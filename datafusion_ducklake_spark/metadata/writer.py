"""Transactional catalog writer.

Reference parity: the MetadataWriter trait + ColumnDef/DataFileInfo/
WriteMode (src/metadata_writer.rs:17-45, 38-45), the SQLite impl's DDL for
the seven catalog tables (src/metadata_writer_sqlite.rs:15-86) and its
statements: create_snapshot, begin_write_transaction (331-470 —
snapshot + get-or-create schema/table + schema-evolution check +
set_columns + Replace⇒end_table_files), register_data_file (250-273),
end_table_files (275-288). Each method is one transaction on its own and
joins the caller's when called inside ``_txn`` (reentrant): a write
composes begin_write_transaction (or create_snapshot) with every
registration of its staged files into ONE commit
(table_writer.register_files), and ``begin_write_transaction`` versions
column rows only when the columns changed.

Implementation notes:
- IDs are allocated explicitly (MAX+1 inside the transaction) instead of
  relying on SQLite rowid autoincrement, so the identical writer works on
  both sqlite3 and duckdb connections. A snapshot id is allocated above
  every id a ROLLBACK deleted as well, so no snapshot id that was visible
  is ever reused (``_snapshot_high_water``).
- ``register_delete_file`` is an extension beyond the reference's writer
  (which never writes deletes — DuckDB's ducklake extension does that in
  its test setup); we need it to build MOR fixtures without network access
  to the duckdb ducklake extension. Schema matches the reference DDL.
"""

from __future__ import annotations

import re
import sqlite3
import threading
from dataclasses import dataclass
from enum import Enum
from typing import Optional

from ..errors import InvalidConfig
from ..types import is_geometry_type, types_compatible
from . import sql as Q
from .provider import CatalogShape, ColumnMeta

DDL = """
CREATE TABLE IF NOT EXISTS ducklake_metadata (
    key VARCHAR NOT NULL,
    value VARCHAR NOT NULL,
    scope VARCHAR,
    scope_id BIGINT
);
CREATE TABLE IF NOT EXISTS ducklake_snapshot (
    snapshot_id INTEGER PRIMARY KEY,
    snapshot_time TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
    author VARCHAR,
    commit_message VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_snapshot_changes (
    snapshot_id BIGINT NOT NULL,
    changes_made VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_schema (
    schema_id INTEGER PRIMARY KEY,
    schema_name VARCHAR NOT NULL,
    path VARCHAR NOT NULL DEFAULT '',
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_table (
    table_id INTEGER NOT NULL,
    schema_id INTEGER NOT NULL,
    table_name VARCHAR NOT NULL,
    path VARCHAR NOT NULL DEFAULT '',
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_column (
    column_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    column_name VARCHAR NOT NULL,
    column_type VARCHAR NOT NULL,
    column_order INTEGER NOT NULL,
    nulls_allowed BOOLEAN DEFAULT 1,
    parent_column INTEGER,
    initial_default VARCHAR,
    default_value VARCHAR,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_data_file (
    data_file_id INTEGER PRIMARY KEY,
    table_id INTEGER NOT NULL,
    path VARCHAR NOT NULL,
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    file_size_bytes INTEGER NOT NULL,
    footer_size INTEGER,
    encryption_key VARCHAR,
    record_count INTEGER,
    row_id_start INTEGER,
    mapping_id INTEGER,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_column_mapping (
    mapping_id INTEGER PRIMARY KEY,
    table_id INTEGER NOT NULL,
    type VARCHAR NOT NULL
);
CREATE TABLE IF NOT EXISTS ducklake_name_mapping (
    mapping_id INTEGER NOT NULL,
    column_id INTEGER NOT NULL,
    source_name VARCHAR NOT NULL,
    parent_column INTEGER,
    is_partition BOOLEAN
);
CREATE TABLE IF NOT EXISTS ducklake_file_column_stats (
    data_file_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    column_id INTEGER NOT NULL,
    column_size_bytes INTEGER,
    value_count INTEGER,
    null_count INTEGER,
    min_value VARCHAR,
    max_value VARCHAR,
    contains_nan BOOLEAN,
    extra_stats VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_table_column_stats (
    table_id INTEGER NOT NULL,
    column_id INTEGER NOT NULL,
    contains_null BOOLEAN,
    contains_nan BOOLEAN,
    min_value VARCHAR,
    max_value VARCHAR,
    extra_stats VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_view (
    view_id INTEGER PRIMARY KEY,
    schema_id INTEGER NOT NULL,
    view_name VARCHAR NOT NULL,
    dialect VARCHAR NOT NULL DEFAULT 'spark',
    sql VARCHAR NOT NULL,
    column_aliases VARCHAR,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_tag (
    object_id INTEGER NOT NULL,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER,
    key VARCHAR NOT NULL,
    value VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_column_tag (
    table_id INTEGER NOT NULL,
    column_id INTEGER NOT NULL,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER,
    key VARCHAR NOT NULL,
    value VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_partition_info (
    partition_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_partition_column (
    partition_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    partition_key_index INTEGER NOT NULL,
    column_id INTEGER NOT NULL,
    transform VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_file_partition_value (
    data_file_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    partition_key_index INTEGER NOT NULL,
    partition_value VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_macro (
    schema_id INTEGER NOT NULL DEFAULT 0,
    macro_id INTEGER NOT NULL,
    macro_name VARCHAR NOT NULL,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_macro_impl (
    macro_id INTEGER NOT NULL,
    impl_index INTEGER NOT NULL DEFAULT 0,
    dialect VARCHAR NOT NULL,
    body VARCHAR NOT NULL,
    macro_type VARCHAR NOT NULL
);
CREATE TABLE IF NOT EXISTS ducklake_macro_parameters (
    macro_id INTEGER NOT NULL,
    impl_index INTEGER NOT NULL DEFAULT 0,
    position INTEGER NOT NULL,
    parameter_name VARCHAR NOT NULL,
    parameter_type VARCHAR,
    default_value VARCHAR,
    default_type VARCHAR
);
CREATE TABLE IF NOT EXISTS ducklake_inlined_data_tables (
    table_id INTEGER NOT NULL,
    table_name VARCHAR NOT NULL,
    schema_version INTEGER
);
CREATE TABLE IF NOT EXISTS ducklake_table_stats (
    table_id BIGINT PRIMARY KEY,
    record_count BIGINT,
    next_row_id BIGINT,
    file_size_bytes BIGINT
);
CREATE TABLE IF NOT EXISTS ducklake_delete_file (
    delete_file_id INTEGER PRIMARY KEY,
    data_file_id INTEGER NOT NULL,
    table_id INTEGER NOT NULL,
    path VARCHAR NOT NULL,
    path_is_relative BOOLEAN NOT NULL DEFAULT 1,
    file_size_bytes INTEGER NOT NULL,
    footer_size INTEGER,
    encryption_key VARCHAR,
    delete_count INTEGER,
    begin_snapshot INTEGER NOT NULL,
    end_snapshot INTEGER
);
"""

# each catalog table's CREATE statement in DDL, by table name
_DDL_OF = {re.search(r"EXISTS (\w+)", stmt)[1]: stmt.strip()
           for stmt in DDL.split(";") if stmt.strip()}

MAX_NAME_LEN = 1024


def validate_name(name: str, entity: str) -> None:
    """Entity-name rules (ref: validate_name metadata_writer.rs:17-36,
    validate_table_name schema.rs:26-43)."""
    if not name:
        raise InvalidConfig(f"{entity} name cannot be empty")
    if len(name) > MAX_NAME_LEN:
        raise InvalidConfig(
            f"{entity} name exceeds {MAX_NAME_LEN} characters")
    if any(ord(c) < 0x20 or c == "\x7f" for c in name):
        raise InvalidConfig(f"{entity} name contains control characters")
    if "/" in name or "\\" in name or ".." in name:
        raise InvalidConfig(
            f"{entity} name contains path separators or traversal: {name!r}")
    if name.startswith("_ducklake_"):
        # reserved for engine-internal file columns (e.g. the explicit
        # row_id column UPDATE writes — sources/scan.ROWID_FILE_COL)
        raise InvalidConfig(
            f"{entity} name uses the reserved _ducklake_ prefix: {name!r}")


class WriteMode(Enum):
    APPEND = "append"
    REPLACE = "replace"


@dataclass(frozen=True)
class ColumnDef:
    name: str
    ducklake_type: str
    is_nullable: bool = True
    # SQL-literal/expression text (DuckLake spec columns). initial_default
    # fills rows predating the column; default_value applies to INSERTs
    # that omit it.
    initial_default: Optional[str] = None
    default_value: Optional[str] = None


@dataclass(frozen=True)
class DataFileInfo:
    path: str
    path_is_relative: bool
    file_size_bytes: int
    footer_size: Optional[int]
    record_count: Optional[int]
    row_id_start: Optional[int] = None
    mapping_id: Optional[int] = None
    encryption_key: Optional[str] = None   # base64 AES key (PME footer key)

    def __post_init__(self):
        # ref: validated_file_size / validated_record_count (table.rs:59-80)
        if self.file_size_bytes < 0:
            raise InvalidConfig(f"negative file size: {self.file_size_bytes}")
        if self.record_count is not None and self.record_count < 0:
            raise InvalidConfig(f"negative record count: {self.record_count}")


@dataclass(frozen=True)
class WriteSetup:
    snapshot_id: int
    schema_id: int
    table_id: int
    # the table's columns as the write leaves them, in the input's order:
    # ids, declared types, NOT NULL, defaults and nested field ids
    # (provider ColumnMeta, so staging treats a planned table and a bound
    # one alike)
    columns: list
    # (path, path_is_relative) of the schema row and of the table row
    schema_path: tuple
    table_path: tuple

    @property
    def column_ids(self) -> list:
        return [c.column_id for c in self.columns]


class _QmarkCursor:
    """sqlite3-style cursor over a %s-param DB-API cursor: ``execute``
    returns self so ``cur.execute(sql).fetchall()`` chains, qmark
    placeholders rewrite to %s (literal-safe: the catalog SQL surface
    carries no '?' inside string literals — pinned by
    tests/test_provider_dialects.py), and int-valued booleans pass
    through as-is (both live backends coerce 0/1 for the catalog's
    BOOLEAN columns)."""

    def __init__(self, cur):
        self._cur = cur

    def execute(self, sql, params=()):
        self._cur.execute(sql.replace("?", "%s"), tuple(params))
        return self

    def fetchall(self):
        if getattr(self._cur, "description", None) is None:
            return []          # DDL/DML statements: no result set
        return self._cur.fetchall()


class _QmarkConn:
    """Connection adapter giving psycopg / mysql-connector connections
    the sqlite3 surface CatalogWriter drives: ``conn.execute(sql,
    params)`` with qmark placeholders returning a fetchall-able
    cursor."""

    def __init__(self, conn):
        self._conn = conn

    def execute(self, sql, params=()):
        return _QmarkCursor(self._conn.cursor()).execute(sql, params)

    def close(self):
        self._conn.close()


class CatalogWriter:
    """Writes DuckLake catalog metadata over a DB-API connection
    (sqlite3 or duckdb). One transaction per public method, matching the
    reference's atomicity boundaries."""

    def __init__(self, conn, dialect: str = "sqlite"):
        self._conn = conn
        self._lock = threading.RLock()
        self._dialect = dialect
        # the catalog's shape, probed inside the writer's own
        # transaction: stale at every BEGIN (another writer may have
        # added a table since), rewound to its BEGIN answers after a
        # ROLLBACK, forgotten after this writer's own DDL
        self._shape = CatalogShape(lambda: self._conn.execute(
            Q.CATALOG_SHAPE[dialect]).fetchall())

    # -- construction ------------------------------------------------------

    @classmethod
    def sqlite(cls, db_path: str) -> "CatalogWriter":
        conn = sqlite3.connect(db_path, check_same_thread=False,
                               isolation_level=None)  # explicit txns
        conn.execute("PRAGMA busy_timeout = 10000")
        return cls(conn, "sqlite")

    @classmethod
    def duckdb(cls, db_path: str) -> "CatalogWriter":
        import duckdb
        return cls(duckdb.connect(db_path), "duckdb")

    @classmethod
    def postgres(cls, dsn: str) -> "CatalogWriter":
        """Live Postgres catalog writer (ref:
        metadata_provider_postgres.rs). Import-gated on psycopg; the
        qmark SQL surface is rewritten to %s by the connection adapter —
        the exact statements per method are pinned offline by
        tests/test_provider_goldens.py, so a live server is a
        connection-string change. Activated by the env-gated live suite
        (tests/test_live_backends.py, DUCKLAKE_PG_DSN)."""
        try:
            import psycopg
        except ImportError as e:  # pragma: no cover — driver not bundled
            raise InvalidConfig(
                "postgres catalog writes require the 'psycopg' "
                "package") from e
        conn = psycopg.connect(dsn, autocommit=True)
        return cls(_QmarkConn(conn), "postgres")

    @classmethod
    def mysql(cls, **connect_kwargs) -> "CatalogWriter":
        """Live MySQL catalog writer (ref: metadata_provider_mysql.rs).
        Import-gated on mysql-connector; see ``postgres`` for the
        offline-pinned wire contract."""
        try:
            import mysql.connector
        except ImportError as e:  # pragma: no cover — driver not bundled
            raise InvalidConfig(
                "mysql catalog writes require the "
                "'mysql-connector-python' package") from e
        conn = mysql.connector.connect(autocommit=True, **connect_kwargs)
        # the writer quotes identifiers with double quotes throughout
        # (inlined-data tables carry user column names); MySQL's default
        # sql_mode reads "..." as a string literal, so opt into
        # ANSI_QUOTES for this session before any statement runs
        cur = conn.cursor()
        # CONCAT_WS + NULLIF: a bare CONCAT(@@sql_mode, ',ANSI_QUOTES')
        # yields a LEADING-COMMA list when @@sql_mode is empty, which
        # strict configurations reject (r7 ADVICE) — this form appends
        # cleanly whether the current mode list is empty or not
        cur.execute("SET SESSION sql_mode = "
                    "CONCAT_WS(',', NULLIF(@@sql_mode, ''), 'ANSI_QUOTES')")
        cur.close()
        return cls(_QmarkConn(conn), "mysql")

    def _dialect_ddl(self, stmt: str) -> str:
        """Port the shared catalog DDL to the live backends: Postgres
        rejects integer defaults on BOOLEAN columns, MySQL requires a
        length on VARCHAR (no VARCHAR column is a key, so TEXT is
        safe)."""
        if self._dialect == "postgres":
            return re.sub(r"(BOOLEAN[^,\n)]*DEFAULT )1", r"\1TRUE", stmt)
        if self._dialect == "mysql":
            stmt = re.sub(r"\bVARCHAR\b(?!\s*\()", "TEXT", stmt)
            # MySQL forbids literal defaults on TEXT; every writer INSERT
            # supplies these columns explicitly, so dropping the default
            # clause is value-neutral for catalogs this engine writes
            return re.sub(r"(TEXT(?:\s+NOT\s+NULL)?)\s+DEFAULT\s+"
                          r"'(?:[^']|'')*'", r"\1", stmt)
        return stmt

    def _ensure_lazy(self, cur, table: str,
                     ddl: Optional[str] = None) -> None:
        """Create an auxiliary catalog table that an older catalog lacks
        (by its statement in ``DDL`` unless ``ddl`` is given), decided
        from the shape — never a DDL statement when the table is there:
        on MySQL any DDL, even a no-op IF NOT EXISTS, implicitly commits
        an open transaction. The one genuinely-absent case still commits
        there (first-ever use of the feature on that catalog), which is
        documented and unavoidable without a separate connection."""
        if self._shape.has(table):
            return
        cur.execute(self._dialect_ddl(ddl or _DDL_OF[table]))
        self._shape.forget()

    def initialize_schema(self, data_path: str = "") -> None:
        """Create the seven catalog tables + data_path + snapshot 0
        (ref: initialize_schema metadata_writer_sqlite.rs:15-86; snapshot 0
        is what DuckDB's ducklake extension creates on ATTACH)."""
        with self._txn() as cur:
            for stmt in DDL.strip().split(";"):
                if stmt.strip():
                    cur.execute(self._dialect_ddl(stmt))
            if not cur.execute(
                    "SELECT 1 FROM ducklake_metadata WHERE key='data_path'"
            ).fetchall():
                cur.execute(
                    "INSERT INTO ducklake_metadata (key, value, scope) "
                    "VALUES ('data_path', ?, NULL)", (data_path,))
            if not cur.execute(
                    "SELECT 1 FROM ducklake_snapshot").fetchall():
                cur.execute(
                    "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                    "VALUES (0, CURRENT_TIMESTAMP)")
            self._shape.forget()

    # -- transaction helper ------------------------------------------------

    def _txn(self):
        """Catalog transaction scope. REENTRANT: a ``_txn`` opened while
        another is active on this writer joins it (no nested BEGIN), so a
        composite operation — e.g. a multi-file insert registration, or
        an exactly-once streaming commit (files + batch marker) — becomes
        atomic by wrapping its existing building blocks in one outer
        ``with writer._txn():``. COMMIT/ROLLBACK happen only when the
        outermost scope exits; an inner failure rolls the whole thing
        back (the RLock serializes writers, so depth is thread-local by
        construction)."""
        writer = self

        class _Txn:
            def __enter__(self):
                writer._lock.acquire()
                depth = getattr(writer, "_txn_depth", 0)
                if depth == 0:
                    begin = {"sqlite": "BEGIN IMMEDIATE",
                             "mysql": "START TRANSACTION",
                             "postgres": "BEGIN"}.get(
                        writer._dialect, "BEGIN TRANSACTION")
                    # transient cross-process contention on the commit
                    # lock retries up to max_retry_count (DuckDB's
                    # ducklake_max_retry_count, default 10 — sql/settings/
                    # max_retry_count.test); semantic write-write
                    # conflicts are detected later and never retried
                    retries = max(0, int(
                        getattr(writer, "max_retry_count", 10) or 0))
                    for attempt in range(retries + 1):
                        try:
                            writer._conn.execute(begin)
                            break
                        except Exception as e:
                            msg = str(e).lower()
                            transient = ("locked" in msg or "busy" in msg
                                         or "could not set lock" in msg)
                            if not transient or attempt >= retries:
                                writer._lock.release()
                                raise
                            import time as _time
                            _time.sleep(0.05 * (attempt + 1))
                    writer._txn_failed = False
                    writer._shape_at_begin = writer._shape._tables
                    writer._shape.stale()
                writer._txn_depth = depth + 1
                return writer._conn

            def __exit__(self, exc_type, exc, tb):
                try:
                    writer._txn_depth -= 1
                    if exc_type is not None:
                        writer._txn_failed = True
                    if writer._txn_depth == 0:
                        if writer._txn_failed:
                            writer._conn.execute("ROLLBACK")
                            # this transaction's own DDL is undone too
                            writer._shape.rewind(writer._shape_at_begin)
                            # allocated-but-never-persisted snapshot ids
                            # must NOT reach the session's rollback scope:
                            # a concurrent session can commit the same id
                            # (ids are MAX+1) and our ROLLBACK would then
                            # delete ITS committed snapshot
                            writer._pending_snapshot_ids = []
                        else:
                            writer._conn.execute("COMMIT")
                            pend = getattr(
                                writer, "_pending_snapshot_ids", [])
                            writer._pending_snapshot_ids = []
                            cb = getattr(writer, "on_snapshot", None)
                            if cb is not None:
                                for sid in pend:
                                    cb(sid)
                finally:
                    writer._lock.release()
                return False

        return _Txn()

    def _next_id(self, cur, table: str, id_col: str) -> int:
        if table != "ducklake_snapshot":
            return int(cur.execute(
                f"SELECT COALESCE(MAX({id_col}), 0) + 1 FROM {table}"
            ).fetchall()[0][0])
        nid = self._snapshot_high_water(cur) + 1
        if getattr(self, "on_snapshot", None) is not None:
            # session hook: an explicit BEGIN tracks ITS OWN snapshot ids
            # so ROLLBACK rewinds only them — a concurrent session's
            # commits after the anchor must survive the rewind. Recorded
            # here but FIRED only when the allocating catalog transaction
            # COMMITS (_Txn.__exit__): an aborted statement's id may be
            # re-allocated and committed by a concurrent session, and the
            # session's ROLLBACK must never rewind that
            pend = getattr(self, "_pending_snapshot_ids", None)
            if pend is None:
                pend = self._pending_snapshot_ids = []
            pend.append(nid)
        return nid

    def _snapshot_high_water(self, cur) -> int:
        """The highest snapshot id ever allocated. A ROLLBACK's change
        row outlives the snapshots it deleted (rollback_to_snapshot), so
        allocating above it never reuses a snapshot id that was
        visible."""
        ids = "SELECT MAX(snapshot_id) AS snapshot_id FROM ducklake_snapshot"
        if self._shape.has("ducklake_snapshot_changes"):
            ids += (" UNION ALL SELECT MAX(snapshot_id) "
                    "FROM ducklake_snapshot_changes")
        return int(cur.execute(
            f"SELECT COALESCE(MAX(snapshot_id), 0) FROM ({ids}) ids"
        ).fetchall()[0][0])

    @staticmethod
    def _live_nested_ids(cur, table_id: int) -> dict:
        """{root column_id: {path_tuple: child_field_id}} from the LIVE
        parent/child ducklake_column rows — the previous-version identity
        map that keeps nested field ids stable across snapshots (a field
        dropped and re-added must get a FRESH id so old files read NULL:
        sql/alter/struct_evolution_reuse.test)."""
        rows = cur.execute(
            "SELECT column_id, column_name, parent_column "
            "FROM ducklake_column "
            "WHERE table_id = ? AND end_snapshot IS NULL "
            "ORDER BY column_order", (table_id,)).fetchall()
        kids: dict[int, list] = {}
        roots = []
        for cid, name, parent in rows:
            if parent is None:
                roots.append(int(cid))
            else:
                kids.setdefault(int(parent), []).append((int(cid), name))

        def walk(cid: int, prefix: tuple, acc: dict) -> None:
            for kcid, kname in kids.get(cid, []):
                p = prefix + (str(kname).lower(),)
                acc[p] = kcid
                walk(kcid, p, acc)

        out = {}
        for r in roots:
            acc: dict = {}
            walk(r, (), acc)
            out[r] = acc
        return out

    @staticmethod
    def _child_rows(cur, table_id: int, parent_id: int, col_type: str,
                    prev_paths: dict, next_col_id: int, next_order: int):
        """Child ducklake_column rows for a nested column type (struct
        fields by name, list 'element', map 'key'/'value' — the DuckLake
        parent/child convention metadata_provider.rs:361-410 reads). Ids
        reuse the previous version's by path; new slots get fresh ids.
        Returns (rows, {path: id}, next_col_id, next_order), rows shaped
        like ``_COLUMN_ROW``."""
        from ..types import nested_tree_paths
        try:
            tree = nested_tree_paths(col_type)
        except Exception:
            return [], {}, next_col_id, next_order
        rows, nested = [], {}
        for path, child_type in tree:
            cid = prev_paths.get(path)
            carried_default = None
            if cid is None:
                cid = next_col_id
                next_col_id += 1
            else:
                # re-versioned field identity: carry its nested DEFAULT
                # forward (sql/default/struct_field_default.test — an
                # unrelated later alter must not lose it)
                found = cur.execute(
                    "SELECT initial_default FROM ducklake_column "
                    "WHERE table_id = ? AND column_id = ? "
                    "ORDER BY begin_snapshot DESC LIMIT 1",
                    (table_id, cid)).fetchall()
                carried_default = found[0][0] if found else None
            parent = parent_id if len(path) == 1 else nested[path[:-1]]
            rows.append((cid, path[-1], child_type, next_order, True,
                         parent, carried_default, None))
            nested[path] = cid
            next_order += 1
        return rows, nested, next_col_id, next_order

    _COLUMN_ROW = ("column_id, column_name, column_type, column_order, "
                   "nulls_allowed, parent_column, initial_default, "
                   "default_value")

    def _version_column_rows(self, cur, table_id: int, sid: int,
                             rows: list) -> None:
        """End the table's live column rows and insert ``rows`` as the
        version beginning at ``sid`` — unless the live rows already equal
        ``rows`` (ids, names, types, order, nullability, parents and
        defaults): a write that changes no column writes no column row,
        so ``ducklake_column`` does not grow with the number of writes
        and a column's begin_snapshot stays the snapshot that changed
        it."""
        def norm(r):
            return (int(r[0]), str(r[1]), str(r[2]), int(r[3]),
                    True if r[4] is None else bool(r[4]),
                    None if r[5] is None else int(r[5]), r[6], r[7])
        live = cur.execute(
            f"SELECT {self._COLUMN_ROW} FROM ducklake_column "
            "WHERE table_id = ? AND end_snapshot IS NULL",
            (table_id,)).fetchall()
        if sorted(map(norm, live), key=lambda r: (r[3], r[0])) == \
                sorted(map(norm, rows), key=lambda r: (r[3], r[0])):
            return
        cur.execute(
            "UPDATE ducklake_column SET end_snapshot = ? "
            "WHERE table_id = ? AND end_snapshot IS NULL", (sid, table_id))
        for r in rows:
            cur.execute(
                f"INSERT INTO ducklake_column ({self._COLUMN_ROW}, "
                "table_id, begin_snapshot) "
                "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
                (*r, table_id, sid))

    def set_nested_field_default(self, table_id: int, parent_name: str,
                                 field_name: str, default: str) -> None:
        """Record an initial_default on a live NESTED struct field row
        (corpus: sql/default/struct_field_default.test — ALTER TABLE t
        ADD COLUMN col.k INT DEFAULT v fills pre-alter rows with v)."""
        with self._txn() as cur:
            rows = cur.execute(
                "SELECT c.column_id FROM ducklake_column c "
                "JOIN ducklake_column p ON c.parent_column = p.column_id "
                "AND p.table_id = c.table_id "
                "WHERE c.table_id = ? AND c.end_snapshot IS NULL "
                "AND p.end_snapshot IS NULL AND p.parent_column IS NULL "
                "AND lower(p.column_name) = lower(?) "
                "AND lower(c.column_name) = lower(?)",
                (table_id, parent_name, field_name)).fetchall()
            if not rows:
                raise ValueError(
                    f"no live nested field {parent_name}.{field_name}")
            cur.execute(
                "UPDATE ducklake_column SET initial_default = ? "
                "WHERE table_id = ? AND column_id = ? "
                "AND end_snapshot IS NULL",
                (default, table_id, int(rows[0][0])))

    # -- public API (mirrors MetadataWriter trait) -------------------------

    def _record_changes(self, cur, snapshot_id: int, changes) -> None:
        """Append the snapshot's change summary to
        ducklake_snapshot_changes (DuckLake catalog spec; surfaces as the
        ``changes`` column of ducklake_snapshots() — corpus:
        sql/snapshot_info/). Comma-joined ``kind:id`` labels, DuckDB's
        rendering."""
        if not changes:
            return
        self._ensure_lazy(cur, "ducklake_snapshot_changes")
        cur.execute(
            "INSERT INTO ducklake_snapshot_changes (snapshot_id, "
            "changes_made) VALUES (?, ?)",
            (snapshot_id, ",".join(changes)))

    def create_snapshot(self, changes=()) -> int:
        with self._txn() as cur:
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            self._record_changes(cur, sid, changes)
            return sid

    def set_snapshot_audit(self, snapshot_id: int,
                           author: Optional[str],
                           commit_message: Optional[str]) -> None:
        """Stamp audit info on a committed snapshot (DuckDB's
        ducklake.set_commit_message; corpus: sql/audit/). Pre-audit
        catalogs get the columns added on demand."""
        with self._txn() as cur:
            for col in ("author", "commit_message"):
                self._ensure_column(cur, "ducklake_snapshot", col, "VARCHAR")
            cur.execute(
                "UPDATE ducklake_snapshot SET author = ?, "
                "commit_message = ? WHERE snapshot_id = ?",
                (author, commit_message, snapshot_id))

    def create_schema(self, schema_name: str,
                      if_not_exists: bool = False) -> int:
        """CREATE SCHEMA (corpus: sql/catalog/schema.test): a new MVCC
        schema row in its own snapshot. Errors on a live duplicate
        unless ``if_not_exists``."""
        validate_name(schema_name, "Schema")
        with self._txn() as cur:
            rows = cur.execute(
                "SELECT schema_id FROM ducklake_schema "
                "WHERE schema_name = ? AND end_snapshot IS NULL",
                (schema_name,)).fetchall()
            if rows:
                if if_not_exists:
                    return int(rows[0][0])
                raise InvalidConfig(
                    f"Schema already exists: {schema_name}")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            schema_id = self._next_id(cur, "ducklake_schema", "schema_id")
            cur.execute(
                "INSERT INTO ducklake_schema (schema_id, schema_name, path, "
                "path_is_relative, begin_snapshot) VALUES (?, ?, ?, ?, ?)",
                (schema_id, schema_name, schema_name, True, sid))
            self._record_changes(cur, sid, [f"created_schema:{schema_id}"])
            return schema_id

    def drop_schema(self, schema_name: str, if_exists: bool = False,
                    cascade: bool = False) -> bool:
        """DROP SCHEMA: ends the schema row (MVCC). Refuses while live
        tables remain (DuckDB: 'there are entries that depend on it')
        unless ``cascade``, which ends the dependent tables too. The
        default schema cannot be dropped."""
        if schema_name == "main":
            raise InvalidConfig("Cannot drop the default schema: main")
        with self._txn() as cur:
            rows = cur.execute(
                "SELECT schema_id FROM ducklake_schema "
                "WHERE schema_name = ? AND end_snapshot IS NULL",
                (schema_name,)).fetchall()
            if not rows:
                if if_exists:
                    return False
                raise InvalidConfig(f"Schema not found: {schema_name}")
            schema_id = int(rows[0][0])
            live = cur.execute(
                "SELECT table_id FROM ducklake_table "
                "WHERE schema_id = ? AND end_snapshot IS NULL",
                (schema_id,)).fetchall()
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            live_views = cur.execute(
                "SELECT view_id FROM ducklake_view "
                "WHERE schema_id = ? AND end_snapshot IS NULL",
                (schema_id,)).fetchall()
            live_macros = cur.execute(
                "SELECT macro_id FROM ducklake_macro "
                "WHERE schema_id = ? AND end_snapshot IS NULL",
                (schema_id,)).fetchall() \
                if self._shape.has("ducklake_macro") else []
            if (live or live_views or live_macros) and not cascade:
                raise InvalidConfig(
                    f"Cannot drop schema {schema_name}: there are entries "
                    "that depend on it (use CASCADE)")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            for (tid,) in live:
                # full drop_table shape: columns and delete files end
                # too, or cleanup never reclaims them (live rows would
                # reference dead tables forever)
                for tbl in ("ducklake_table", "ducklake_column",
                            "ducklake_data_file", "ducklake_delete_file"):
                    cur.execute(
                        f"UPDATE {tbl} SET end_snapshot = ? "
                        "WHERE table_id = ? AND end_snapshot IS NULL",
                        (sid, int(tid)))
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            cur.execute(
                "UPDATE ducklake_view SET end_snapshot = ? "
                "WHERE schema_id = ? AND end_snapshot IS NULL",
                (sid, schema_id))
            if live_macros:
                # CASCADE ends the schema's macros too (upstream
                # sql/macros/test_schema_dependency.test)
                cur.execute(
                    "UPDATE ducklake_macro SET end_snapshot = ? "
                    "WHERE schema_id = ? AND end_snapshot IS NULL",
                    (sid, schema_id))
            cur.execute(
                "UPDATE ducklake_schema SET end_snapshot = ? "
                "WHERE schema_id = ? AND end_snapshot IS NULL",
                (sid, schema_id))
            self._record_changes(
                cur, sid,
                [f"dropped_table:{int(t[0])}" for t in live]
                + [f"dropped_schema:{schema_id}"])
            return True

    def begin_write_transaction(self, schema_name: str, table_name: str,
                                columns: list[ColumnDef],
                                mode: WriteMode,
                                maintenance: bool = False,
                                replace_definition: bool = False
                                ) -> WriteSetup:
        """One atomic transaction: new snapshot, get-or-create schema and
        table, append-mode schema-evolution check, version the columns
        when they changed, Replace⇒end current files (ref:
        metadata_writer_sqlite.rs:331-470). Inside a caller's ``_txn`` it
        joins that transaction: the table writer plans a write with it
        under a rolled-back ``_txn`` and commits it together with the
        write's files.

        ``replace_definition``: the REPLACE is a user CREATE OR REPLACE
        (table DEFINITION replaced, one snapshot) rather than a data
        overwrite — NOT NULL/DEFAULT come from the NEW schema instead of
        being retained from the old one (the reference's OR REPLACE takes
        the new definition wholesale, transaction/create_conflict.test:36;
        r8 ADVICE adjudication). Declared types still follow the
        store-as-declared rule so representation-typed columns
        (json/uuid/geometry) survive a self-referential replace."""
        validate_name(schema_name, "Schema")
        validate_name(table_name, "Table")
        if not columns:
            raise InvalidConfig("Table must have at least one column")
        for col in columns:
            validate_name(col.name, "Column")

        with self._txn() as cur:
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))

            rows = cur.execute(
                "SELECT schema_id, path, path_is_relative FROM ducklake_schema "
                "WHERE schema_name = ? AND end_snapshot IS NULL",
                (schema_name,)).fetchall()
            if rows:
                schema_id = int(rows[0][0])
                schema_path = (rows[0][1], bool(rows[0][2]))
            else:
                schema_id = self._next_id(cur, "ducklake_schema", "schema_id")
                schema_path = (schema_name, True)
                cur.execute(
                    "INSERT INTO ducklake_schema (schema_id, schema_name, path, "
                    "path_is_relative, begin_snapshot) VALUES (?, ?, ?, ?, ?)",
                    (schema_id, schema_name, schema_name, True, sid))

            rows = cur.execute(
                "SELECT table_id, path, path_is_relative FROM ducklake_table "
                "WHERE schema_id = ? AND table_name = ? AND end_snapshot IS NULL",
                (schema_id, table_name)).fetchall()
            created_table = not rows
            if rows:
                table_id = int(rows[0][0])
                table_path = (rows[0][1], bool(rows[0][2]))
            else:
                table_id = self._next_id(cur, "ducklake_table", "table_id")
                table_path = (table_name, True)
                cur.execute(
                    "INSERT INTO ducklake_table (table_id, schema_id, table_name, "
                    "path, path_is_relative, begin_snapshot) "
                    "VALUES (?, ?, ?, ?, ?, ?)",
                    (table_id, schema_id, table_name, table_name, True,
                     sid))

            existing = cur.execute(
                "SELECT column_name, column_type, nulls_allowed FROM ducklake_column "
                "WHERE table_id = ? AND end_snapshot IS NULL "
                "AND parent_column IS NULL ORDER BY column_order",
                (table_id,)).fetchall()

            # Append-mode schema evolution: adding nullable columns, removing
            # columns, reordering OK; type changes only along promotion rules;
            # new non-nullable columns rejected (ref: :427-464).
            if mode == WriteMode.APPEND and existing:
                import dataclasses as _dc
                existing_map = {r[0]: (r[1], bool(r[2]) if r[2] is not None else True)
                                for r in existing}
                for ci, col in enumerate(columns):
                    if col.name in existing_map:
                        old_type = existing_map[col.name][0]
                        if types_compatible(col.ducklake_type, old_type) \
                                and col.ducklake_type != old_type:
                            # representation-compatible write: the
                            # incoming Spark type is how the declared
                            # type is STORED (varchar payload into a
                            # json/uuid column — sql/types/json.test).
                            # Keep the declared type, no evolution.
                            columns[ci] = _dc.replace(
                                col, ducklake_type=old_type)
                        elif not types_compatible(old_type,
                                                  col.ducklake_type):
                            if old_type.strip().lower() == "interval":
                                from ..types import is_interval_repr_type
                                if is_interval_repr_type(col.ducklake_type):
                                    # the struct representation a scan of
                                    # an interval column yields: a
                                    # representation-compatible payload —
                                    # keep the declared type; the staging
                                    # re-encodes to parquet INTERVAL via
                                    # the duckdb-backed writer (r9)
                                    columns[ci] = _dc.replace(
                                        col, ducklake_type=old_type)
                                    continue
                                raise InvalidConfig(
                                    f"column '{col.name}' is INTERVAL: "
                                    "only the months/days/micros struct "
                                    "representation (what scanning an "
                                    "interval column yields) can be "
                                    "inserted; use add_files to register "
                                    "externally-written interval files")
                            raise InvalidConfig(
                                f"Schema evolution error: column '{col.name}' has "
                                f"type '{old_type}' in existing table but "
                                f"'{col.ducklake_type}' in new schema. "
                                f"Type changes are not allowed.")
                    elif not col.is_nullable:
                        raise InvalidConfig(
                            f"Schema evolution error: new column '{col.name}' must "
                            f"be nullable. Adding non-nullable columns is not allowed.")

            # column_id is the parquet field id and must stay STABLE across
            # schema versions: a column keeps its id through appends and
            # renames so old files keep resolving by field id
            # (ref: types.rs:438-456 — DuckLake column_id == field_id).
            existing_ids = {r[0]: int(r[1]) for r in cur.execute(
                "SELECT column_name, column_id FROM ducklake_column "
                "WHERE table_id = ? AND end_snapshot IS NULL "
                "AND parent_column IS NULL", (table_id,)).fetchall()}
            prev_nested = self._live_nested_ids(cur, table_id)
            existing_nulls = {r[0]: (bool(r[2]) if r[2] is not None else True)
                              for r in existing}
            existing_defaults = {r[0]: (r[1], r[2]) for r in cur.execute(
                "SELECT column_name, initial_default, default_value "
                "FROM ducklake_column "
                "WHERE table_id = ? AND end_snapshot IS NULL "
                "AND parent_column IS NULL", (table_id,)).fetchall()
            } if existing else {}
            existing_types = {r[0]: r[1] for r in existing}
            rows, setup_cols = [], []
            next_col_id = self._next_id(cur, "ducklake_column", "column_id")
            order = 0          # global DFS order: parent, then its children
            for col in columns:
                nullable = col.is_nullable
                initial, default = col.initial_default, col.default_value
                col_type = col.ducklake_type
                if col.name in existing_ids:
                    cid = existing_ids[col.name]
                    old_type = existing_types.get(col.name)
                    if old_type is not None and col_type != old_type:
                        # store-as-declared (ONE rule, both modes): the
                        # frame's physical type is how the declared type
                        # is STORED — without this, overwrite
                        # maintenance (compact(preserve_rowids=False))
                        # silently drifted such columns. A REAL type
                        # change on overwrite still applies when the
                        # pair is not representation-compatible.
                        if (is_geometry_type(old_type)
                                and col_type.lower() in
                                ("blob", "binary", "bytea")):
                            # Spark frames carry geometry as binary; the
                            # catalog column stays GEOMETRY (geo corpus)
                            col_type = old_type
                        elif (mode == WriteMode.APPEND
                              and ("<" in old_type or "(" in old_type)
                              and ("<" in col_type or "(" in col_type)):
                            # nested input that merely permutes or
                            # subsets struct fields must not rewrite the
                            # column's declared shape — struct evolution
                            # goes through ALTER, never implicit INSERT
                            # (append-only: an OVERWRITE with a truly
                            # new nested shape legitimately replaces it)
                            col_type = old_type
                        elif types_compatible(col_type, old_type):
                            # varchar→json, blob→uuid, nested µs-long→
                            # time, permuted nested, …
                            col_type = old_type
                        elif old_type.strip().lower() == "interval":
                            from ..types import is_interval_repr_type
                            if is_interval_repr_type(col_type):
                                # the struct representation an interval
                                # scan yields — REPLACE (compact
                                # preserve_rowids=False / overwrite)
                                # keeps the declared INTERVAL; the
                                # staging re-encodes via the duckdb
                                # writer (r9)
                                col_type = old_type
                    if mode == WriteMode.APPEND or (
                            col_type == old_type and not replace_definition):
                        # INSERT never alters constraints or defaults,
                        # and a data OVERWRITE whose declared type is
                        # unchanged keeps them too (compact must not
                        # drop DEFAULT / NOT NULL); a real type change
                        # on overwrite, or a CREATE OR REPLACE
                        # (replace_definition), takes the new schema's.
                        # The restored NOT NULL is ENFORCED against the
                        # overwrite data: create_or_insert derives its
                        # constraint set from the post-setup catalog.
                        nullable = existing_nulls.get(col.name, nullable)
                        initial, default = existing_defaults.get(
                            col.name, (initial, default))
                else:
                    cid = next_col_id
                    next_col_id += 1
                rows.append((cid, col.name, col_type, order, nullable, None,
                             initial, default))
                order += 1
                kids, nmap, next_col_id, order = self._child_rows(
                    cur, table_id, cid, col_type, prev_nested.get(cid, {}),
                    next_col_id, order)
                rows += kids
                setup_cols.append(ColumnMeta(
                    cid, col.name, col_type, bool(nullable), initial,
                    default, nested_ids=tuple(nmap.items())))
            self._version_column_rows(cur, table_id, sid, rows)

            if mode == WriteMode.REPLACE:
                cur.execute(
                    "UPDATE ducklake_data_file SET end_snapshot = ? "
                    "WHERE table_id = ? AND end_snapshot IS NULL", (sid, table_id))
                # delete files ride on their data files: a REPLACE ends
                # them too, or their rows dangle live forever and are
                # never collected by cleanup_old_files
                cur.execute(
                    "UPDATE ducklake_delete_file SET end_snapshot = ? "
                    "WHERE table_id = ? AND end_snapshot IS NULL", (sid, table_id))

            if created_table:
                labels = [f"created_table:{table_id}"]
            elif maintenance:
                # file-layout rewrite, not a data change: CDC skips these
                # snapshots (operators/cdc.py _compaction_snapshots)
                labels = [f"compacted_table:{table_id}"]
            elif mode == WriteMode.REPLACE:
                labels = [f"deleted_from_table:{table_id}",
                          f"inserted_into_table:{table_id}"]
            else:
                labels = [f"inserted_into_table:{table_id}"]
            self._record_changes(cur, sid, labels)
            return WriteSetup(sid, schema_id, table_id, setup_cols,
                              schema_path, table_path)

    def _has_primary_key(self, cur, table: str) -> bool:
        """Whether a catalog table declares a PRIMARY KEY (catalogs from
        before MVCC renames did). The live backends' catalogs come from
        this module's DDL, which declares none on the renamed tables."""
        if self._dialect == "sqlite":
            return any(int(r[5]) == 1 for r in cur.execute(
                f"PRAGMA table_info({table})").fetchall())
        if self._dialect == "duckdb":
            return bool(cur.execute(
                "SELECT 1 FROM duckdb_constraints() WHERE table_name = ? "
                "AND constraint_type = 'PRIMARY KEY'", (table,)).fetchall())
        return False

    def _ensure_table_mvcc(self) -> None:
        """Catalogs created before MVCC renames declared ``table_id
        INTEGER PRIMARY KEY`` on ducklake_table — which rejects the
        second same-id row a rename writes. Detect the constraint and
        rebuild the table without it (copy-swap), once."""
        with self._txn() as cur:
            if not self._has_primary_key(cur, "ducklake_table"):
                return
            cur.execute("ALTER TABLE ducklake_table RENAME TO "
                        "__ducklake_table_pk")
            cur.execute(
                "CREATE TABLE ducklake_table ("
                "table_id INTEGER NOT NULL, schema_id INTEGER NOT NULL, "
                "table_name VARCHAR NOT NULL, "
                "path VARCHAR NOT NULL DEFAULT '', "
                "path_is_relative BOOLEAN NOT NULL DEFAULT 1, "
                "begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER)")
            cur.execute(
                "INSERT INTO ducklake_table SELECT table_id, schema_id, "
                "table_name, path, path_is_relative, begin_snapshot, "
                "end_snapshot FROM __ducklake_table_pk")
            cur.execute("DROP TABLE __ducklake_table_pk")
            self._shape.forget()

    def rename_table(self, table_id: int, new_name: str) -> int:
        """ALTER TABLE ... RENAME TO (corpus: sql/alter/rename_table*):
        MVCC rename — end the current table row, begin one with the SAME
        table_id (files, columns, rowids all keyed by id, so zero data
        moves) and the new name; the storage path keeps the old name.
        Time travel before the rename still resolves the old name."""
        validate_name(new_name, "Table")
        self._ensure_table_mvcc()
        with self._txn() as cur:
            rows = cur.execute(
                "SELECT schema_id, path, path_is_relative FROM "
                "ducklake_table WHERE table_id = ? AND end_snapshot IS "
                "NULL", (table_id,)).fetchall()
            if not rows:
                raise InvalidConfig(f"no live table with id {table_id}")
            schema_id, path, rel = rows[0]
            dup = cur.execute(
                "SELECT 1 FROM ducklake_table WHERE schema_id = ? AND "
                "table_name = ? AND end_snapshot IS NULL",
                (schema_id, new_name)).fetchall()
            if dup:
                raise InvalidConfig(
                    f"Table already exists: {new_name}")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            cur.execute(
                "UPDATE ducklake_table SET end_snapshot = ? "
                "WHERE table_id = ? AND end_snapshot IS NULL",
                (sid, table_id))
            cur.execute(
                "INSERT INTO ducklake_table (table_id, schema_id, "
                "table_name, path, path_is_relative, begin_snapshot) "
                "VALUES (?, ?, ?, ?, ?, ?)",
                (table_id, schema_id, new_name, path, rel, sid))
            self._record_changes(cur, sid, [f"renamed_table:{table_id}"])
            return sid

    def drop_table(self, table_id: int) -> int:
        """End the table, its columns and its files in one new snapshot —
        the table disappears from the current view, but time travel
        before the drop still resolves everything (MVCC end_snapshot
        semantics, same as Replace's file-ending)."""
        with self._txn() as cur:
            live = cur.execute(
                "SELECT 1 FROM ducklake_table WHERE table_id = ? "
                "AND end_snapshot IS NULL", (table_id,)).fetchall()
            if not live:
                # a concurrent session already dropped it (transaction
                # conflict corpus: drop-drop loses the race cleanly,
                # never silently re-drops)
                raise InvalidConfig(
                    f"DROP TABLE: table id {table_id} is no longer live "
                    "(dropped by a concurrent transaction)")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            for tbl, col in (("ducklake_table", "table_id"),
                             ("ducklake_column", "table_id"),
                             ("ducklake_data_file", "table_id"),
                             ("ducklake_delete_file", "table_id")):
                cur.execute(
                    f"UPDATE {tbl} SET end_snapshot = ? "
                    f"WHERE {col} = ? AND end_snapshot IS NULL",
                    (sid, table_id))
            self._record_changes(cur, sid, [f"dropped_table:{table_id}"])
            return sid

    def version_columns(self, table_id: int,
                        cols: list[tuple[Optional[int], "ColumnDef"]],
                        nested_hints: Optional[dict] = None) -> int:
        """Write a new column version for the table in a fresh snapshot:
        end the current column rows, insert the given ones (keeping the
        provided column_ids — field-id stability across renames; None
        assigns a fresh id). The mechanism behind metadata-only ALTER
        TABLE (rename/add/drop column): zero data files move, old files
        keep resolving by field id. Returns the new snapshot id."""
        if not cols:
            raise InvalidConfig("Table must have at least one column")
        for _, col in cols:
            validate_name(col.name, "Column")
        with self._txn() as cur:
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            self._record_changes(cur, sid, [f"altered_table:{table_id}"])
            prev_nested = self._live_nested_ids(cur, table_id)
            next_col_id = self._next_id(cur, "ducklake_column", "column_id")
            order, rows = 0, []
            for cid, col in cols:
                if cid is None:
                    cid = next_col_id
                    next_col_id += 1
                rows.append((cid, col.name, col.ducklake_type, order,
                             col.is_nullable, None, col.initial_default,
                             col.default_value))
                order += 1
                prev = dict(prev_nested.get(cid, {}))
                if nested_hints and cid in nested_hints:
                    # explicit path->id carries (nested field RENAME:
                    # the path changes but the field id must not)
                    prev.update(nested_hints[cid])
                kids, _, next_col_id, order = self._child_rows(
                    cur, table_id, cid, col.ducklake_type, prev,
                    next_col_id, order)
                rows += kids
            self._version_column_rows(cur, table_id, sid, rows)
            return sid

    def register_data_file(self, table_id: int, snapshot_id: int,
                           file: DataFileInfo) -> int:
        with self._txn() as cur:
            fid = self._next_id(cur, "ducklake_data_file", "data_file_id")
            cur.execute(
                "INSERT INTO ducklake_data_file (data_file_id, table_id, path, "
                "path_is_relative, file_size_bytes, footer_size, record_count, "
                "row_id_start, mapping_id, encryption_key, begin_snapshot) "
                "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
                (fid, table_id, file.path, bool(file.path_is_relative),
                 file.file_size_bytes, file.footer_size, file.record_count,
                 file.row_id_start, file.mapping_id, file.encryption_key,
                 snapshot_id))
            if file.row_id_start is not None:
                cand = int(file.row_id_start) + int(file.record_count or 0)
            else:
                # rowid-in-file (UPDATE keep-rowids / compaction / inlined
                # flush): the in-file rowids were PRESERVED from rows that
                # exist in the catalog right now (the superseded started
                # files are still registered, ended at most; inlined rows
                # are still in their inline tables) — so the current
                # next-rowid bound covers them. Persist it before
                # cleanup_old_files can purge the started rows it is
                # derived from.
                rows = cur.execute(
                    "SELECT COALESCE(MAX(row_id_start + "
                    "COALESCE(record_count, 0)), 0) FROM ducklake_data_file "
                    "WHERE table_id = ? AND row_id_start IS NOT NULL",
                    (table_id,)).fetchall()
                cand = int(rows[0][0])
                inl = self._max_inlined_row_id(cur, table_id)
                if inl is not None:
                    cand = max(cand, int(inl) + 1)
            self._bump_next_row_id(cur, table_id, cand)
            return fid

    def _bump_next_row_id(self, cur, table_id: int, candidate: int) -> None:
        """Monotone per-table rowid high-water mark in
        ``ducklake_table_stats.next_row_id`` (the DuckLake-spec stats
        table). Needed because files registered with row_id_start NULL
        carry their rowids in-file: once ``cleanup_old_files`` purges the
        expired started rows those rowids derived from, MAX(row_id_start
        + record_count) collapses and a naive next_row_id would re-issue
        rowids that still exist in-file — breaking rowid-targeted
        DELETE/UPDATE, CDC update pairing, and streaming exactly-once."""
        self._ensure_lazy(cur, "ducklake_table_stats")
        rows = cur.execute(
            "SELECT next_row_id FROM ducklake_table_stats "
            "WHERE table_id = ?", (table_id,)).fetchall()
        if not rows:
            cur.execute(
                "INSERT INTO ducklake_table_stats (table_id, next_row_id) "
                "VALUES (?, ?)", (table_id, int(candidate)))
        elif rows[0][0] is None or int(rows[0][0]) < int(candidate):
            cur.execute(
                "UPDATE ducklake_table_stats SET next_row_id = ? "
                "WHERE table_id = ?", (int(candidate), table_id))

    def _stored_next_row_id(self, cur, table_id: int) -> int:
        # create-if-missing rather than try/except: a failed statement
        # poisons an open DuckDB transaction
        self._ensure_lazy(cur, "ducklake_table_stats")
        rows = cur.execute(
            "SELECT next_row_id FROM ducklake_table_stats "
            "WHERE table_id = ?", (table_id,)).fetchall()
        return int(rows[0][0]) if rows and rows[0][0] is not None else 0

    def register_file_column_stats(self, data_file_id: int, table_id: int,
                                   stats: list[tuple]) -> None:
        """Record per-file per-column min/max/null stats (the DuckLake
        ``ducklake_file_column_stats`` table — real catalogs written by
        DuckDB populate it; the reference leaves reading it as a TODO,
        metadata_provider.rs:569). Rows: (column_id, column_size_bytes,
        value_count, null_count, min_value, max_value, contains_nan
        [, extra_stats]) — ``extra_stats`` is the GEOMETRY bbox/types
        JSON (geo corpus). Geometry rows also fold into the grow-only
        ``ducklake_table_column_stats`` envelope (table-level stats are
        an upper bound in DuckLake: deletes never shrink them)."""
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_file_column_stats")
            self._ensure_column(cur, "ducklake_file_column_stats",
                                "extra_stats", "VARCHAR")
            self._ensure_lazy(cur, "ducklake_table_column_stats")
            for row in stats:
                (cid, size, count, nulls, mn, mx, nan) = row[:7]
                extra = row[7] if len(row) > 7 else None
                cur.execute(
                    "INSERT INTO ducklake_file_column_stats (data_file_id, "
                    "table_id, column_id, column_size_bytes, value_count, "
                    "null_count, min_value, max_value, contains_nan, "
                    "extra_stats) VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
                    (data_file_id, table_id, cid, size, count, nulls,
                     mn, mx, nan, extra))
                self._fold_table_column_stats(
                    cur, table_id, cid, nulls, mn, mx, nan, extra,
                    value_count=count)

    def _ensure_column(self, cur, table: str, column: str,
                       sql_type: str) -> None:
        """ALTER-if-missing migration for catalogs created before the
        column existed (older engine versions / foreign writers).
        Shape-first: the ALTER runs only where the shape lacks the
        column, since a failed statement inside an open transaction
        poisons it on Postgres (InFailedSqlTransaction — every later
        statement in the txn errors) and on DuckDB."""
        if self._shape.has(table, column):
            return
        if self._dialect in ("postgres", "duckdb"):
            # atomic — closes the shape/ALTER race against a concurrent
            # writer without risking a failed statement inside the open
            # transaction (which Postgres would poison)
            cur.execute(self._dialect_ddl(
                f"ALTER TABLE {table} ADD COLUMN IF NOT EXISTS "
                f"{column} {sql_type}"))
            self._shape.forget()
            return
        # sqlite/mysql lack ADD COLUMN IF NOT EXISTS. A concurrent
        # duplicate ALTER is tolerable here: sqlite serializes writers on
        # the file lock and a failed statement doesn't poison its
        # transaction; the mysql connection runs autocommit.
        try:
            cur.execute(self._dialect_ddl(
                f"ALTER TABLE {table} ADD COLUMN {column} {sql_type}"))
        except Exception:
            self._shape.forget()
            if not self._shape.has(table, column):
                raise          # not a lost duplicate-column race
        self._shape.forget()

    def _fold_table_column_stats(self, cur, table_id: int, cid: int,
                                 nulls, mn, mx, nan, extra,
                                 value_count=None) -> None:
        """Merge one file's column stats into the table-level envelope
        (min of mins / max of maxes / bbox union). String compare on the
        rendered values is exact for same-type renders the engine writes;
        a NULL file min/max widens the envelope to unknown (NULL) —
        EXCEPT when the file holds no non-null values at all (parquet
        writes no min/max then): an all-NULL file only sets
        contains_null, never erases the envelope (corpus:
        sql/stats/global_stats.test — Min 42 / Max 84 survive a NULL
        insert)."""
        rows = cur.execute(
            "SELECT contains_null, contains_nan, min_value, max_value, "
            "extra_stats FROM ducklake_table_column_stats "
            "WHERE table_id = ? AND column_id = ?",
            (table_id, cid)).fetchall()
        has_null = bool(nulls) if nulls is not None else True
        all_null = (value_count is not None and nulls is not None
                    and value_count - nulls <= 0)
        if not rows:
            cur.execute(
                "INSERT INTO ducklake_table_column_stats (table_id, "
                "column_id, contains_null, contains_nan, min_value, "
                "max_value, extra_stats) VALUES (?, ?, ?, ?, ?, ?, ?)",
                (table_id, cid, has_null, bool(nan), mn, mx, extra))
            return
        (t_null, t_nan, t_mn, t_mx, t_extra) = rows[0]
        if all_null:
            new_mn, new_mx = t_mn, t_mx
        else:
            new_mn = None if (mn is None or t_mn is None) else min(t_mn, mn)
            new_mx = None if (mx is None or t_mx is None) else max(t_mx, mx)
        if extra or t_extra:
            from ..functions.geo import merge_extra_stats
            new_extra = merge_extra_stats([t_extra, extra])
        else:
            new_extra = None
        cur.execute(
            "UPDATE ducklake_table_column_stats SET contains_null = ?, "
            "contains_nan = ?, min_value = ?, max_value = ?, "
            "extra_stats = ? WHERE table_id = ? AND column_id = ?",
            (bool(t_null) or has_null, bool(t_nan) or bool(nan),
             new_mn, new_mx, new_extra, table_id, cid))

    _VIEW_DDL = (
        "CREATE TABLE IF NOT EXISTS ducklake_view ("
        "view_id INTEGER NOT NULL, schema_id INTEGER NOT NULL, "
        "view_name VARCHAR NOT NULL, dialect VARCHAR NOT NULL DEFAULT "
        "'spark', sql VARCHAR NOT NULL, column_aliases VARCHAR, "
        "begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER)")

    def create_view(self, schema_id: int, view_name: str, sql_text: str,
                    dialect: str = "spark", replace: bool = False) -> int:
        """Persist a SQL view definition in the catalog (the DuckLake spec's
        ``ducklake_view`` entity — beyond the reference engine, which has no
        view support; its vendored sql/view/ corpus documents the shape).
        MVCC like tables: CREATE OR REPLACE ends the old row and begins a
        new one in the same snapshot, so time travel sees the old body."""
        validate_name(view_name, "view")
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            # one table/view namespace (sql/view/
            # ducklake_view_table_conflict.test): a live TABLE of the
            # same name blocks the view even with OR REPLACE
            tbl = cur.execute(
                "SELECT table_id FROM ducklake_table WHERE schema_id = ? "
                "AND table_name = ? AND end_snapshot IS NULL",
                (schema_id, view_name)).fetchall()
            if tbl:
                raise InvalidConfig(
                    f"a table named {view_name!r} already exists")
            rows = cur.execute(
                "SELECT view_id FROM ducklake_view WHERE schema_id = ? AND "
                "view_name = ? AND end_snapshot IS NULL",
                (schema_id, view_name)).fetchall()
            if rows:
                if not replace:
                    raise InvalidConfig(
                        f"view {view_name!r} already exists "
                        "(use CREATE OR REPLACE VIEW)")
                cur.execute(
                    "UPDATE ducklake_view SET end_snapshot = ? "
                    "WHERE view_id = ?", (sid, rows[0][0]))
            vid = self._next_id(cur, "ducklake_view", "view_id")
            self._record_changes(cur, sid, [f"created_view:{vid}"])
            cur.execute(
                "INSERT INTO ducklake_view (view_id, schema_id, view_name, "
                "dialect, sql, begin_snapshot) VALUES (?, ?, ?, ?, ?, ?)",
                (vid, schema_id, view_name, dialect, sql_text, sid))
            return sid

    def drop_view(self, schema_id: int, view_name: str) -> int:
        """End a live view (MVCC; time travel before the drop still
        resolves it). Raises InvalidConfig if no such live view."""
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            rows = cur.execute(
                "SELECT view_id FROM ducklake_view WHERE schema_id = ? AND "
                "view_name = ? AND end_snapshot IS NULL",
                (schema_id, view_name)).fetchall()
            if not rows:
                raise InvalidConfig(f"no view named {view_name!r}")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            cur.execute(
                "UPDATE ducklake_view SET end_snapshot = ? WHERE view_id = ?",
                (sid, rows[0][0]))
            self._record_changes(cur, sid,
                                 [f"dropped_view:{int(rows[0][0])}"])
            return sid

    def _ensure_view_mvcc(self) -> None:
        """Catalogs whose ducklake_view declared ``view_id INTEGER
        PRIMARY KEY`` reject the second same-id row a rename writes —
        copy-swap the constraint away, once (same treatment as
        _ensure_table_mvcc)."""
        with self._txn() as cur:
            if not self._shape.has("ducklake_view") or \
                    not self._has_primary_key(cur, "ducklake_view"):
                return
            cur.execute("ALTER TABLE ducklake_view RENAME TO "
                        "__ducklake_view_pk")
            self._shape.forget()
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            cur.execute(
                "INSERT INTO ducklake_view SELECT view_id, schema_id, "
                "view_name, dialect, sql, column_aliases, begin_snapshot, "
                "end_snapshot FROM __ducklake_view_pk")
            cur.execute("DROP TABLE __ducklake_view_pk")
            self._shape.forget()

    def rename_view(self, schema_id: int, view_name: str,
                    new_name: str) -> int:
        """ALTER VIEW ... RENAME TO (corpus: sql/alter/rename_entity.test):
        MVCC rename — end the live row, begin one with the SAME view_id
        and the new name; the body and dialect carry over, and time
        travel before the rename still resolves the old name."""
        validate_name(new_name, "view")
        self._ensure_view_mvcc()
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_view", self._VIEW_DDL)
            rows = cur.execute(
                "SELECT view_id, dialect, sql FROM ducklake_view "
                "WHERE schema_id = ? AND view_name = ? "
                "AND end_snapshot IS NULL",
                (schema_id, view_name)).fetchall()
            if not rows:
                raise InvalidConfig(f"no view named {view_name!r}")
            dup = cur.execute(
                "SELECT 1 FROM ducklake_view WHERE schema_id = ? AND "
                "view_name = ? AND end_snapshot IS NULL",
                (schema_id, new_name)).fetchall()
            if dup:
                raise InvalidConfig(f"view {new_name!r} already exists")
            vid, dialect, sql_text = rows[0]
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            cur.execute(
                "UPDATE ducklake_view SET end_snapshot = ? WHERE view_id = ? "
                "AND end_snapshot IS NULL", (sid, vid))
            cur.execute(
                "INSERT INTO ducklake_view (view_id, schema_id, view_name, "
                "dialect, sql, begin_snapshot) VALUES (?, ?, ?, ?, ?, ?)",
                (vid, schema_id, new_name, dialect, sql_text, sid))
            self._record_changes(cur, sid, [f"altered_view:{int(vid)}"])
            return sid

    def next_row_id(self, table_id: int) -> int:
        """Next unassigned virtual rowid for the table: MAX over ALL files
        ever registered (ended files included, so rowids are never reused
        across overwrite/compaction — the DuckLake rowid contract) AND
        over inlined rows (which carry row_ids of their own) AND the
        persisted ``ducklake_table_stats.next_row_id`` high-water mark
        (which survives ``cleanup_old_files`` purging the expired started
        rows that rowid-in-file files derived their rowids from)."""
        with self._txn() as cur:
            rows = cur.execute(
                "SELECT COALESCE(MAX(row_id_start + COALESCE(record_count, 0)), 0) "
                "FROM ducklake_data_file "
                "WHERE table_id = ? AND row_id_start IS NOT NULL",
                (table_id,)).fetchall()
            base = max(int(rows[0][0]),
                       self._stored_next_row_id(cur, table_id))
            inl = self._max_inlined_row_id(cur, table_id)
        return base if inl is None else max(base, int(inl) + 1)

    def create_name_mapping(self, table_id: int, column_names: list[str],
                            column_ids: list[int],
                            partition_cols: list[tuple[str, int]] = ()) -> int:
        """Record a map_by_name column mapping for externally-added parquet
        files that carry no field ids (the DuckLake add_files contract:
        ducklake_data_file.mapping_id → ducklake_column_mapping/
        ducklake_name_mapping). The scan layer treats mapping_id as the
        catalog's has-no-field-ids signal, replacing per-file footer probes
        (ref: table.rs:220-295 probes one footer per table).

        ``partition_cols``: (source_name, column_id) pairs whose values come
        from hive-style ``name=value`` path segments rather than the file
        contents — recorded with is_partition=1, the DuckLake contract for
        add_files over hive layouts (corpus: sql/add_files/add_files_hive).

        Identical mappings are duplicate-eliminated (the corpus asserts
        COUNT(ducklake_column_mapping)=1 after two same-shape adds)."""
        want = sorted(
            [(cid, name, 0) for name, cid in zip(column_names, column_ids)]
            + [(cid, name, 1) for name, cid in partition_cols])
        with self._txn() as cur:
            # pre-existing catalogs may predate these tables
            self._ensure_lazy(cur, "ducklake_column_mapping")
            self._ensure_lazy(cur, "ducklake_name_mapping")
            for (existing,) in cur.execute(
                    "SELECT mapping_id FROM ducklake_column_mapping "
                    "WHERE table_id = ? AND type = 'map_by_name'",
                    (table_id,)).fetchall():
                rows = cur.execute(
                    "SELECT column_id, source_name, is_partition "
                    "FROM ducklake_name_mapping WHERE mapping_id = ?",
                    (existing,)).fetchall()
                if sorted((int(r[0]), r[1], int(r[2] or 0))
                          for r in rows) == want:
                    return int(existing)
            mid = self._next_id(cur, "ducklake_column_mapping", "mapping_id")
            cur.execute(
                "INSERT INTO ducklake_column_mapping (mapping_id, table_id, type) "
                "VALUES (?, ?, 'map_by_name')", (mid, table_id))
            for name, cid in zip(column_names, column_ids):
                cur.execute(
                    "INSERT INTO ducklake_name_mapping (mapping_id, column_id, "
                    "source_name, parent_column, is_partition) "
                    "VALUES (?, ?, ?, NULL, ?)", (mid, cid, name, False))
            for name, cid in partition_cols:
                cur.execute(
                    "INSERT INTO ducklake_name_mapping (mapping_id, column_id, "
                    "source_name, parent_column, is_partition) "
                    "VALUES (?, ?, ?, NULL, ?)", (mid, cid, name, True))
            return mid

    def register_delete_file(self, table_id: int, data_file_id: int,
                             snapshot_id: int, path: str,
                             path_is_relative: bool, file_size_bytes: int,
                             delete_count: int,
                             expected_prev_delete_id: Optional[int] = -1,
                             encryption_key: Optional[str] = None
                             ) -> int:
        """Register a positional-delete parquet file for one data file,
        superseding (ending) any previous delete file for it — mirrors what
        DuckDB's ducklake extension records on DELETE (schema per the
        reference DDL; supersedence per SQL_GET_DATA_FILES' per-snapshot
        LEFT JOIN semantics).

        ``expected_prev_delete_id`` (None = expect no live delete file)
        is the optimistic-concurrency check: the cumulative positions
        being registered were computed FROM that delete file, so if a
        concurrent DML superseded it in the meantime, registering would
        silently drop the concurrent writer's deletions — raise
        TransactionConflict instead (the write-write abort DuckDB's
        extension performs; corpus: sql/transaction/
        transaction_conflicts_delete.test). -1 skips the check (callers
        that did no read-modify-write, e.g. foreign-fixture builders)."""
        from ..errors import TransactionConflict
        with self._txn() as cur:
            live_data = cur.execute(
                "SELECT 1 FROM ducklake_data_file "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (data_file_id,)).fetchall()
            if not live_data:
                # the data file was rewritten/compacted concurrently —
                # a delete registered against the ended file would be
                # invisible to readers (silently resurrecting rows);
                # abort like DuckDB's write-write conflict detection
                # (ref corpus: compaction_delete_conflict.test)
                raise TransactionConflict(
                    f"transaction conflict: data file {data_file_id} was "
                    "rewritten concurrently; retry the statement")
            if expected_prev_delete_id != -1:
                live = cur.execute(
                    "SELECT delete_file_id FROM ducklake_delete_file "
                    "WHERE data_file_id = ? AND end_snapshot IS NULL",
                    (data_file_id,)).fetchall()
                current = int(live[0][0]) if live else None
                if current != expected_prev_delete_id:
                    raise TransactionConflict(
                        f"transaction conflict: delete file for data file "
                        f"{data_file_id} was superseded concurrently "
                        f"(expected {expected_prev_delete_id}, found "
                        f"{current}); retry the statement")
            cur.execute(
                "UPDATE ducklake_delete_file SET end_snapshot = ? "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (snapshot_id, data_file_id))
            did = self._next_id(cur, "ducklake_delete_file", "delete_file_id")
            cur.execute(
                "INSERT INTO ducklake_delete_file (delete_file_id, data_file_id, "
                "table_id, path, path_is_relative, file_size_bytes, delete_count, "
                "encryption_key, begin_snapshot) "
                "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
                (did, data_file_id, table_id, path, path_is_relative,
                 file_size_bytes, delete_count, encryption_key, snapshot_id))
            return did

    def end_data_file(self, data_file_id: int, snapshot_id: int) -> None:
        """Mark one data file removed as of snapshot_id (whole-file delete)."""
        with self._txn() as cur:
            cur.execute(
                "UPDATE ducklake_data_file SET end_snapshot = ? "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (snapshot_id, data_file_id))

    def end_delete_file(self, data_file_id: int, snapshot_id: int) -> None:
        """End the live delete file riding on one data file (selective
        rewrite: the rewritten file has no MOR debt left)."""
        with self._txn() as cur:
            cur.execute(
                "UPDATE ducklake_delete_file SET end_snapshot = ? "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (snapshot_id, data_file_id))

    def expect_live_member(self, data_file_id: int,
                           expected_delete_file_id) -> None:
        """Optimistic-concurrency check for rewrites: the survivor runs
        were computed from a LIVE data file and from
        ``expected_delete_file_id``'s positions (None = no delete file
        existed). A concurrent rewrite that already ended the data file,
        or a concurrent DML that superseded or added a delete file, would
        leave its rows live twice or have its deletions silently dropped
        by this rewrite — abort instead (ref corpus:
        test_rewrite_transaction_conflict.test)."""
        from ..errors import TransactionConflict
        with self._txn() as cur:
            live = cur.execute(
                "SELECT 1 FROM ducklake_data_file "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (data_file_id,)).fetchall()
            if not live:
                raise TransactionConflict(
                    f"transaction conflict: data file {data_file_id} was "
                    "ended concurrently; retry the rewrite")
            rows = cur.execute(
                "SELECT delete_file_id FROM ducklake_delete_file "
                "WHERE data_file_id = ? AND end_snapshot IS NULL",
                (data_file_id,)).fetchall()
            current = int(rows[0][0]) if rows else None
            if current != expected_delete_file_id:
                raise TransactionConflict(
                    f"transaction conflict: delete file for data file "
                    f"{data_file_id} changed concurrently (expected "
                    f"{expected_delete_file_id}, found {current}); "
                    "retry the rewrite")

    def end_table_files(self, table_id: int, snapshot_id: int) -> int:
        with self._txn() as cur:
            cur.execute(
                "UPDATE ducklake_data_file SET end_snapshot = ? "
                "WHERE table_id = ? AND end_snapshot IS NULL",
                (snapshot_id, table_id))
            return cur.execute("SELECT changes()").fetchall()[0][0] \
                if self._dialect == "sqlite" else -1

    def set_tag(self, object_id: int, key: str,
                value: Optional[str], column_id: Optional[int] = None,
                table_id_for_column: Optional[int] = None) -> int:
        """Set/replace one MVCC tag (DuckLake ducklake_tag /
        ducklake_column_tag — COMMENT ON stores key='comment') on a
        table or one of its columns, in a snapshot labeled
        ``altered_table:<id>``. value None ends the tag without writing a
        new row."""
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_tag" if column_id is None
                              else "ducklake_column_tag")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            table_id = object_id if column_id is None \
                else table_id_for_column
            self._record_changes(cur, sid, [f"altered_table:{table_id}"])
            if column_id is None:
                cur.execute(
                    "UPDATE ducklake_tag SET end_snapshot = ? "
                    "WHERE object_id = ? AND key = ? "
                    "AND end_snapshot IS NULL", (sid, object_id, key))
                if value is not None:
                    cur.execute(
                        "INSERT INTO ducklake_tag (object_id, "
                        "begin_snapshot, key, value) VALUES (?, ?, ?, ?)",
                        (object_id, sid, key, value))
            else:
                cur.execute(
                    "UPDATE ducklake_column_tag SET end_snapshot = ? "
                    "WHERE table_id = ? AND column_id = ? AND key = ? "
                    "AND end_snapshot IS NULL",
                    (sid, table_id_for_column, column_id, key))
                if value is not None:
                    cur.execute(
                        "INSERT INTO ducklake_column_tag (table_id, "
                        "column_id, begin_snapshot, key, value) "
                        "VALUES (?, ?, ?, ?, ?)",
                        (table_id_for_column, column_id, sid, key, value))
            return sid

    def set_partitioned_by(self, table_id: int,
                           column_ids: list) -> int:
        """Record the table's partition spec (DuckLake
        ducklake_partition_info/_column; corpus: sql/partitioning/).
        Entries are column_ids or (column_id, transform) pairs —
        transform ∈ identity/year/month/day/hour (the DuckLake partition
        transform set; corpus: sql/partitioning/year_month_day.test).
        Empty ``column_ids`` resets the spec. Existing files keep their
        (possibly absent) partition values — only FUTURE inserts split by
        the new spec, matching DuckDB's behavior."""
        specs = [(c, "identity") if not isinstance(c, tuple) else c
                 for c in column_ids]
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_partition_info")
            self._ensure_lazy(cur, "ducklake_partition_column")
            transform = self._shape.has("ducklake_partition_column",
                                        "transform")
            if not transform and any(tf != "identity" for _c, tf in specs):
                raise InvalidConfig(
                    "this catalog's ducklake_partition_column lacks the "
                    "transform column — partition transforms need a "
                    "newer catalog")
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            self._record_changes(cur, sid, [f"altered_table:{table_id}"])
            cur.execute(
                "UPDATE ducklake_partition_info SET end_snapshot = ? "
                "WHERE table_id = ? AND end_snapshot IS NULL",
                (sid, table_id))
            if specs:
                pid = self._next_id(cur, "ducklake_partition_info",
                                    "partition_id")
                cur.execute(
                    "INSERT INTO ducklake_partition_info (partition_id, "
                    "table_id, begin_snapshot) VALUES (?, ?, ?)",
                    (pid, table_id, sid))
                for idx, (cid, tf) in enumerate(specs):
                    cur.execute(
                        "INSERT INTO ducklake_partition_column "
                        "(partition_id, table_id, partition_key_index, "
                        + ("column_id, transform) VALUES (?, ?, ?, ?, ?)"
                           if transform else "column_id) VALUES (?, ?, ?, ?)"),
                        (pid, table_id, idx, cid) + ((tf,) if transform
                                                     else ()))
            return sid

    def register_file_partition_values(self, data_file_id: int,
                                       table_id: int,
                                       values: list[tuple]) -> None:
        """[(partition_key_index, value_str|None), ...] for one file."""
        with self._txn() as cur:
            for idx, val in values:
                cur.execute(
                    "INSERT INTO ducklake_file_partition_value "
                    "(data_file_id, table_id, partition_key_index, "
                    "partition_value) VALUES (?, ?, ?, ?)",
                    (data_file_id, table_id, idx, val))

    def create_macro(self, name: str, params: list[tuple],
                     body: str, kind: str, dialect: str = "spark",
                     replace: bool = False,
                     arity_scoped: bool = False,
                     schema_id: int = 0) -> int:
        """Register a catalog-persisted SQL macro (DuckLake macro tables:
        ducklake_macro / _impl / _parameters — layout per the reference's
        tests/sqllogictests/sql/macros/test_scalar_table_macros.test).
        ``params`` = [(name, default_or_None), ...] or [(name,
        default_or_None, declared_type_or_None), ...] (typed parameters,
        sql/macros/test_defined_types.test); ``kind`` is 'scalar' |
        'table'. Uniqueness is (name, kind); ``replace`` ends the
        existing definition first."""
        validate_name(name, "Macro")
        if kind not in ("scalar", "table"):
            raise InvalidConfig(f"macro kind must be scalar|table: {kind}")
        with self._txn() as cur:
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            live = cur.execute(
                "SELECT m.macro_id FROM ducklake_macro m "
                "JOIN ducklake_macro_impl i ON m.macro_id = i.macro_id "
                "WHERE m.macro_name = ? AND i.macro_type = ? "
                "AND m.schema_id = ? AND m.end_snapshot IS NULL",
                (name, kind, int(schema_id))).fetchall()
            if live and arity_scoped:
                # multi-arity registration (sql/macros/
                # test_multiple_implementations.test): same-name macros
                # coexist per parameter count; only a same-arity
                # definition conflicts
                live = [r for r in live if len(cur.execute(
                    "SELECT 1 FROM ducklake_macro_parameters "
                    "WHERE macro_id = ?", (int(r[0]),)).fetchall())
                    == len(params)]
            if live:
                if not replace:
                    kind_label = ("Table Macro" if kind == "table"
                                  else "Scalar Macro")
                    raise InvalidConfig(
                        f'{kind_label} Function with name "{name}" '
                        "already exists")
                cur.execute(
                    "UPDATE ducklake_macro SET end_snapshot = ? "
                    "WHERE macro_id = ?", (sid, live[0][0]))
            mid = self._next_id(cur, "ducklake_macro", "macro_id")
            cur.execute(
                "INSERT INTO ducklake_macro (schema_id, macro_id, "
                "macro_name, begin_snapshot) VALUES (?, ?, ?, ?)",
                (int(schema_id), mid, name, sid))
            cur.execute(
                "INSERT INTO ducklake_macro_impl (macro_id, impl_index, "
                "dialect, body, macro_type) VALUES (?, 0, ?, ?, ?)",
                (mid, dialect, body, kind))
            for pos, p in enumerate(params):
                pname, default = p[0], p[1]
                ptype = p[2] if len(p) > 2 and p[2] else "unknown"
                validate_name(pname, "Macro parameter")
                cur.execute(
                    "INSERT INTO ducklake_macro_parameters (macro_id, "
                    "impl_index, position, parameter_name, parameter_type, "
                    "default_value, default_type) "
                    "VALUES (?, 0, ?, ?, ?, ?, 'unknown')",
                    (mid, pos, pname, ptype, default))
            # snapshots() changes parity (upstream labels
            # scalar_macros_created; this catalog's entity convention)
            self._record_changes(cur, sid, [f"created_macro:{mid}"])
            return sid

    def drop_macro(self, name: str,
                   schema_id: Optional[int] = None) -> bool:
        """End every live definition of the macro (in one schema when
        ``schema_id`` is given); False if none."""
        with self._txn() as cur:
            scope = "" if schema_id is None else " AND schema_id = ?"
            args = (name,) if schema_id is None else (name, int(schema_id))
            live = cur.execute(
                "SELECT macro_id FROM ducklake_macro "
                f"WHERE macro_name = ? AND end_snapshot IS NULL{scope}",
                args).fetchall()
            if not live:
                return False
            sid = self._next_id(cur, "ducklake_snapshot", "snapshot_id")
            cur.execute(
                "INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)", (sid,))
            cur.execute(
                "UPDATE ducklake_macro SET end_snapshot = ? "
                f"WHERE macro_name = ? AND end_snapshot IS NULL{scope}",
                (sid,) + args)
            self._record_changes(
                cur, sid, [f"dropped_macro:{int(r[0])}" for r in live])
            return True

    def set_option(self, key: str, value: Optional[str],
                   scope: Optional[str] = None,
                   scope_id: Optional[int] = None) -> None:
        """Set/clear a catalog option in ducklake_metadata (e.g.
        data_inlining_row_limit — DuckDB's DATA_INLINING_ROW_LIMIT).

        ``scope``/``scope_id``: per-schema ('schema', schema_id) or
        per-table ('table', table_id) overrides, the DuckLake scoped-
        settings layout (corpus: sql/settings/per_table_settings).
        Catalogs created before the scope columns take global writes
        only."""
        with self._txn() as cur:
            if self._shape.has("ducklake_metadata", "scope", "scope_id"):
                cur.execute(
                    "DELETE FROM ducklake_metadata WHERE key = ? AND "
                    "COALESCE(scope, '') = COALESCE(?, '') AND "
                    "COALESCE(scope_id, -1) = COALESCE(?, -1)",
                    (key, scope, scope_id))
                if value is not None:
                    cur.execute(
                        "INSERT INTO ducklake_metadata (key, value, scope, "
                        "scope_id) VALUES (?, ?, ?, ?)",
                        (key, str(value), scope, scope_id))
                return
            if scope is not None:
                raise InvalidConfig(
                    "this catalog's ducklake_metadata predates scoped "
                    "settings (no scope/scope_id columns)")
            cur.execute("DELETE FROM ducklake_metadata WHERE key = ?",
                        (key,))
            if value is not None:
                cur.execute(
                    "INSERT INTO ducklake_metadata (key, value) "
                    "VALUES (?, ?)", (key, str(value)))

    _SQLITE_AFFINITY = {"int": "BIGINT", "float": "DOUBLE",
                        "double": "DOUBLE", "decimal": "VARCHAR",
                        "bool": "BOOLEAN"}

    def insert_inlined_rows(self, table_id: int, snapshot_id: int,
                            column_names: list[str],
                            column_types: list[str],
                            rows: list[tuple],
                            row_id_start: Optional[int] = None) -> None:
        """Write-side data inlining: store the rows IN THE CATALOG DB
        (DuckLake data-inlining layout — per-table
        ducklake_inlined_data_{table_id}_{schema_version} with
        row_id/begin_snapshot/end_snapshot + data columns, registered in
        ducklake_inlined_data_tables), the shape DuckDB's ducklake
        extension writes under DATA_INLINING_ROW_LIMIT."""
        name = f"ducklake_inlined_data_{table_id}_0"
        cols_ddl = ", ".join(
            f'"{c}" {self._affinity(t)}'
            for c, t in zip(column_names, column_types))
        col_list = ", ".join(f'"{c}"' for c in column_names)
        ph = ", ".join("?" * (3 + len(column_names)))
        if row_id_start is None:
            # allocate inside this writer so concurrent inliners can't
            # collide rowids (the catalog txn serializes the allocation)
            row_id_start = self.next_row_id(table_id)
        with self._txn() as cur:
            self._ensure_lazy(cur, "ducklake_inlined_data_tables")
            self._ensure_lazy(
                cur, name, f'CREATE TABLE IF NOT EXISTS "{name}" ('
                "row_id BIGINT, begin_snapshot BIGINT, end_snapshot BIGINT, "
                f"{cols_ddl})")
            # schema evolution: an inline table created before an ALTER
            # ADD COLUMN lacks the new column — extend it in place (old
            # rows read NULL, matching parquet missing-field semantics)
            have = {c.lower()
                    for c in self._shape.columns(name, *column_names)}
            for c, t in zip(column_names, column_types):
                if c.lower() not in have:
                    cur.execute(self._dialect_ddl(
                        f'ALTER TABLE "{name}" ADD COLUMN "{c}" '
                        f"{self._affinity(t)}"))
                    self._shape.forget()
            known = cur.execute(
                "SELECT COUNT(*) FROM ducklake_inlined_data_tables "
                "WHERE table_id = ? AND table_name = ?",
                (table_id, name)).fetchall()[0][0]
            if not known:
                cur.execute(
                    "INSERT INTO ducklake_inlined_data_tables "
                    "(table_id, table_name, schema_version) VALUES (?, ?, 0)",
                    (table_id, name))
            for i, row in enumerate(rows):
                cur.execute(
                    f'INSERT INTO "{name}" (row_id, begin_snapshot, '
                    f"end_snapshot, {col_list}) VALUES ({ph})",
                    (row_id_start + i, snapshot_id, None, *row))

    @classmethod
    def _affinity(cls, ducklake_type: str) -> str:
        t = ducklake_type.lower()
        for key, sql in cls._SQLITE_AFFINITY.items():
            if key in t:
                return sql
        return "VARCHAR"

    def _inlined_tables(self, cur, table_id: Optional[int] = None
                        ) -> list[str]:
        """The inlined-data tables the registry lists — the table's own
        with ``table_id`` — as safe identifiers; [] on a catalog without
        the registry."""
        if not self._shape.has("ducklake_inlined_data_tables"):
            return []
        where, args = ("WHERE table_id = ?", (table_id,)) \
            if table_id is not None else ("", ())
        return [r[0] for r in cur.execute(
            f"SELECT DISTINCT table_name FROM ducklake_inlined_data_tables "
            f"{where}", args).fetchall()
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", r[0])]

    def _max_inlined_row_id(self, cur, table_id: int) -> Optional[int]:
        """MAX(row_id) over the table's inlined-data tables (rowid
        sequencing must advance past inlined rows too)."""
        top = None
        for n in self._inlined_tables(cur, table_id):
            m = cur.execute(f'SELECT MAX(row_id) FROM "{n}"').fetchall()[0][0]
            if m is not None:
                top = m if top is None else max(top, int(m))
        return top

    def delete_inlined_rows(self, table_id: int, snapshot_id: int,
                            row_ids: list[int]) -> int:
        """MVCC-delete specific LIVE inlined rows (corpus: sql/
        data_inlining/data_inlining_delete.test — DELETE works directly
        over inlined rows, no parquet involved): end_snapshot the rows;
        older snapshots still time-travel to them. Returns rows ended."""
        if not row_ids:
            return 0
        with self._txn() as cur:
            for nm in self._inlined_tables(cur, table_id):
                ph = ",".join("?" * len(row_ids))
                cur.execute(
                    f'UPDATE "{nm}" SET end_snapshot = ? '
                    f"WHERE end_snapshot IS NULL AND row_id IN ({ph})",
                    (snapshot_id, *[int(r) for r in row_ids]))
        return len(row_ids)

    def rename_inlined_column(self, table_id: int, old: str,
                              new: str) -> None:
        """Keep live inlined-data tables aligned with a catalog column
        rename: the inline tables store columns BY NAME (no field ids),
        so the physical column renames with the catalog one — in the
        tables that have it (a table inlined before the column was added
        lacks it). Residual gap: time travel to before the rename reads
        the renamed inlined column as NULL (parquet gets this right via
        field ids)."""
        with self._txn() as cur:
            for nm in self._inlined_tables(cur, table_id):
                have = {c.lower() for c in
                        self._shape.columns(nm, old, fresh=True) or []}
                if old.lower() in have and new.lower() not in have:
                    cur.execute(
                        f'ALTER TABLE "{nm}" RENAME COLUMN "{old}" '
                        f'TO "{new}"')
                    self._shape.forget()

    def end_inlined_rows(self, inline_table: str, snapshot_id: int) -> None:
        """End every live row of one inlined-data table (data-inlining
        flush: the rows move to a registered parquet file in the same
        snapshot; older snapshots still time-travel to the inlined
        form)."""
        import re
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", inline_table):
            raise InvalidConfig(
                f"invalid inlined-data table name: {inline_table!r}")
        with self._txn() as cur:
            cur.execute(
                f'UPDATE "{inline_table}" SET end_snapshot = ? '
                "WHERE end_snapshot IS NULL", (snapshot_id,))

    _MVCC_TABLES = ("ducklake_schema", "ducklake_table", "ducklake_column",
                    "ducklake_data_file", "ducklake_delete_file",
                    "ducklake_view", "ducklake_macro",
                    "ducklake_partition_info", "ducklake_tag",
                    "ducklake_column_tag")

    def expire_snapshots(self, before_snapshot_id: Optional[int] = None
                         ) -> int:
        """Drop time-travel points older than ``before_snapshot_id``
        (default: everything but the latest) — DuckLake's
        ducklake_expire_snapshots maintenance op. MVCC rows stay; files
        whose end_snapshot falls before every remaining snapshot become
        unreferenced and are collected by cleanup_expired_files. The
        latest snapshot is always kept. Returns snapshots expired."""
        with self._txn() as cur:
            latest = cur.execute(
                "SELECT MAX(snapshot_id) FROM ducklake_snapshot"
            ).fetchall()[0][0]
            if latest is None:
                return 0
            cutoff = (int(latest) if before_snapshot_id is None
                      else min(int(before_snapshot_id), int(latest)))
            n = len(cur.execute(
                "SELECT snapshot_id FROM ducklake_snapshot "
                "WHERE snapshot_id < ?", (cutoff,)).fetchall())
            cur.execute("DELETE FROM ducklake_snapshot "
                        "WHERE snapshot_id < ?", (cutoff,))
            self._ensure_lazy(cur, "ducklake_snapshot_changes")
            cur.execute("DELETE FROM ducklake_snapshot_changes "
                        "WHERE snapshot_id < ?", (cutoff,))
            return n

    def expire_snapshot_ids(self, versions: list[int],
                            dry_run: bool = False) -> int:
        """Selective expiry (the corpus's ``versions => [..]`` form):
        drop exactly the listed time-travel points. The latest snapshot
        is always kept. Returns snapshots (that would be) expired."""
        with self._txn() as cur:
            latest = cur.execute(
                "SELECT MAX(snapshot_id) FROM ducklake_snapshot"
            ).fetchall()[0][0]
            if latest is None:
                return 0
            doomed = [int(v) for v in versions if int(v) != int(latest)]
            live = [r[0] for v in doomed for r in cur.execute(
                "SELECT snapshot_id FROM ducklake_snapshot "
                "WHERE snapshot_id = ?", (v,)).fetchall()]
            if dry_run:
                return len(live)
            for v in live:
                cur.execute("DELETE FROM ducklake_snapshot "
                            "WHERE snapshot_id = ?", (v,))
            self._ensure_lazy(cur, "ducklake_snapshot_changes")
            for v in live:
                cur.execute("DELETE FROM ducklake_snapshot_changes "
                            "WHERE snapshot_id = ?", (v,))
            return len(live)

    def list_expired_files(self) -> list[tuple]:
        """(kind, file_id, file_path, file_rel, table_path, table_rel,
        schema_path, schema_rel) of every data/delete file ended before
        the oldest remaining snapshot — unreachable by any time-travel
        point, safe to physically delete. Carries the catalog identity
        (kind = source table, file_id = its primary key) so the caller
        can drop exactly the rows of the files it deleted, and the full
        resolution chain so paths resolve even for since-dropped
        tables."""
        with self._txn() as cur:
            oldest = cur.execute(
                "SELECT MIN(snapshot_id) FROM ducklake_snapshot"
            ).fetchall()[0][0]
            if oldest is None:
                return []
            out = []
            for tbl, pk in (("ducklake_data_file", "data_file_id"),
                            ("ducklake_delete_file", "delete_file_id")):
                out.extend(
                    (tbl, int(r[0]), r[1], bool(r[2]), r[3], bool(r[4]),
                     r[5], bool(r[6]))
                    for r in cur.execute(
                        f"SELECT DISTINCT f.{pk}, f.path, "
                        "f.path_is_relative, t.path, t.path_is_relative, "
                        "s.path, s.path_is_relative "
                        f"FROM {tbl} f "
                        "JOIN ducklake_table t ON f.table_id = t.table_id "
                        "JOIN ducklake_schema s ON t.schema_id = s.schema_id "
                        "WHERE f.end_snapshot IS NOT NULL "
                        "AND f.end_snapshot <= ?", (oldest,)).fetchall())
            return out

    def drop_file_rows(self, ids: "list[tuple]") -> int:
        """Targeted catalog-row drop for files that were PHYSICALLY
        deleted in this cleanup pass — ``ids`` is (kind, file_id) pairs
        from list_expired_files. Per-file (not the old all-or-nothing
        expired sweep) so a pass that RETAINS some young files still
        drops the rows of the files it did delete — otherwise later
        passes re-list and double-report them and their stats rows
        linger."""
        data_ids = [fid for kind, fid in ids
                    if kind == "ducklake_data_file"]
        del_ids = [fid for kind, fid in ids
                   if kind == "ducklake_delete_file"]
        with self._txn() as cur:
            for chunk_start in range(0, len(data_ids), 500):
                chunk = data_ids[chunk_start:chunk_start + 500]
                ph = ",".join("?" * len(chunk))
                cur.execute(
                    f"DELETE FROM ducklake_data_file "
                    f"WHERE data_file_id IN ({ph})", tuple(chunk))
            for chunk_start in range(0, len(del_ids), 500):
                chunk = del_ids[chunk_start:chunk_start + 500]
                ph = ",".join("?" * len(chunk))
                cur.execute(
                    f"DELETE FROM ducklake_delete_file "
                    f"WHERE delete_file_id IN ({ph})", tuple(chunk))
            if data_ids:
                cur.execute(
                    "DELETE FROM ducklake_file_column_stats WHERE "
                    "data_file_id NOT IN "
                    "(SELECT data_file_id FROM ducklake_data_file)")
                cur.execute(
                    "DELETE FROM ducklake_file_partition_value WHERE "
                    "data_file_id NOT IN "
                    "(SELECT data_file_id FROM ducklake_data_file)")
        return len(ids)

    def drop_expired_inlined_rows(self) -> None:
        """Sweep ended inlined rows no time-travel point can reach.
        Unconditional in every cleanup pass: inlined rows have no
        physical file, so the young-file retention guard never applies
        to them."""
        with self._txn() as cur:
            oldest = cur.execute(
                "SELECT MIN(snapshot_id) FROM ducklake_snapshot"
            ).fetchall()[0][0]
            if oldest is None:
                return
            for nm in self._inlined_tables(cur):
                cur.execute(
                    f'DELETE FROM "{nm}" WHERE end_snapshot IS NOT NULL '
                    "AND end_snapshot <= ?", (oldest,))

    def rollback_to_snapshot(self, snapshot_id: int,
                             only: "set[int] | None" = None) -> list[tuple]:
        """Rewind the catalog to ``snapshot_id``: delete every snapshot
        and every MVCC row born after it, and re-open rows that were
        ended after it. One catalog transaction — the mechanism behind
        ROLLBACK (corpus parity: sql/transaction/; visibility semantics
        via snapshots, matching how DuckLake models all state change).
        Returns (file_path, file_rel, table_path, table_rel, schema_path,
        schema_rel) rows for every data/delete file the rewind
        UNREGISTERED, so the caller can remove them from disk — upstream
        cleans a conflicted transaction's staged files the same way
        (sql/transaction/transaction_conflict_cleanup.test). Failing to
        delete them is never catalog corruption (they're orphans).

        ``only``: the snapshot ids THIS transaction created (the
        session's on_snapshot recording) — the rewind touches exactly
        those, so a CONCURRENT session's commits after the anchor
        survive both the catalog rewind and the disk cleanup. ``None``
        keeps the legacy whole-range rewind (single-writer callers)."""
        if only is not None:
            ids = sorted(i for i in only if i > snapshot_id)
            if not ids:
                return []
            ph = ",".join("?" * len(ids))
            born_p, born_a = f"begin_snapshot IN ({ph})", tuple(ids)
            end_p, end_a = f"end_snapshot IN ({ph})", tuple(ids)
            snap_p, snap_a = f"snapshot_id IN ({ph})", tuple(ids)
        else:
            born_p, born_a = "begin_snapshot > ?", (snapshot_id,)
            end_p, end_a = "end_snapshot > ?", (snapshot_id,)
            snap_p, snap_a = "snapshot_id > ?", (snapshot_id,)
        dropped: list[tuple] = []
        with self._txn() as cur:
            has = self._shape.has
            for ftbl in ("ducklake_data_file", "ducklake_delete_file"):
                dropped += cur.execute(
                    f"SELECT f.path, f.path_is_relative, t.path, "
                    f"t.path_is_relative, s.path, s.path_is_relative "
                    f"FROM {ftbl} f "
                    "JOIN ducklake_table t ON f.table_id = t.table_id "
                    "JOIN ducklake_schema s ON t.schema_id = s.schema_id "
                    f"WHERE f.{born_p}", born_a).fetchall()
            # an older catalog lacks some of these tables: nothing of
            # theirs to rewind
            for tbl in filter(has, self._MVCC_TABLES):
                cur.execute(
                    f"DELETE FROM {tbl} WHERE {born_p}", born_a)
                cur.execute(
                    f"UPDATE {tbl} SET end_snapshot = NULL "
                    f"WHERE {end_p}", end_a)
            # inlined-data rows version by snapshot too — without this
            # sweep, a rolled-back inlined insert would RESURRECT when
            # the next snapshot reuses the deleted id (ids are max+1)
            for n in self._inlined_tables(cur):
                cur.execute(f'DELETE FROM "{n}" WHERE {born_p}', born_a)
                cur.execute(f'UPDATE "{n}" SET end_snapshot = NULL '
                            f"WHERE {end_p}", end_a)
            for tbl, key, owner in (
                    ("ducklake_file_column_stats", "data_file_id",
                     "ducklake_data_file"),
                    ("ducklake_file_partition_value", "data_file_id",
                     "ducklake_data_file"),
                    ("ducklake_macro_impl", "macro_id", "ducklake_macro"),
                    ("ducklake_macro_parameters", "macro_id",
                     "ducklake_macro"),
                    ("ducklake_partition_column", "partition_id",
                     "ducklake_partition_info")):
                if has(tbl) and has(owner):
                    cur.execute(
                        f"DELETE FROM {tbl} WHERE {key} "
                        f"NOT IN (SELECT {key} FROM {owner})")
            # the rewind is a change other sessions must see: it leaves
            # one change row under a fresh id and no snapshot row, so the
            # catalog version (provider.head) moves and the deleted ids
            # are never allocated again
            rewind_id = self._snapshot_high_water(cur) + 1
            cur.execute(
                f"DELETE FROM ducklake_snapshot WHERE {snap_p}", snap_a)
            self._ensure_lazy(cur, "ducklake_snapshot_changes")
            cur.execute(
                f"DELETE FROM ducklake_snapshot_changes WHERE {snap_p}",
                snap_a)
            cur.execute(
                "INSERT INTO ducklake_snapshot_changes (snapshot_id, "
                "changes_made) VALUES (?, ?)",
                (rewind_id, f"rolled_back_to_snapshot:{snapshot_id}"))
        return dropped

    def close(self) -> None:
        self._conn.close()
