"""Metadata providers: read-side access to the DuckLake catalog database.

Reference parity: the MetadataProvider trait (src/metadata_provider.rs:
544-619) and its four backend impls. Here: SQLite (stdlib sqlite3) and
DuckDB (duckdb package, read-only — ref: metadata_provider_duckdb.rs:16-70
opens read-only with a mutex-shared connection). Postgres/MySQL would be
the same SQL over psycopg/mysql-connector; those drivers aren't in this
container, so the backends are registered but gated on import.

All catalog queries run on the Spark driver — metadata is small; only
Parquet I/O is distributed.
"""

from __future__ import annotations

import functools
import itertools
import re
import sqlite3
import threading
from dataclasses import dataclass, field
from typing import Optional

from ..errors import CatalogCorruption, CatalogError
from . import sql as Q


@dataclass(frozen=True)
class SnapshotMeta:
    snapshot_id: int
    snapshot_time: Optional[str]
    author: Optional[str] = None           # audit (corpus: sql/audit/)
    commit_message: Optional[str] = None


@dataclass(frozen=True)
class SchemaMeta:
    schema_id: int
    schema_name: str
    path: str
    path_is_relative: bool


@dataclass(frozen=True)
class TableMeta:
    table_id: int
    table_name: str
    path: str
    path_is_relative: bool


@dataclass(frozen=True)
class ViewMeta:
    view_id: int
    view_name: str
    dialect: str
    sql: str


@dataclass(frozen=True)
class ColumnMeta:
    column_id: int
    column_name: str
    column_type: str
    nulls_allowed: bool
    # DuckLake default-value columns (spec: ducklake_column). initial_default
    # fills rows in files that PREDATE the column (ALTER ADD COLUMN DEFAULT);
    # default_value applies to INSERTs that omit the column.
    initial_default: Optional[str] = None
    default_value: Optional[str] = None
    begin_snapshot: Optional[int] = None
    # Nested field identity for struct evolution (sql/alter/
    # struct_evolution*.test): ((path_tuple, field_id), ...) where paths
    # follow types.nested_tree_paths naming — struct children by field
    # name, list 'element', map 'key'/'value'. Populated from the
    # catalog's parent/child ducklake_column rows.
    nested_ids: tuple = ()
    # ((path_tuple, first_begin_snapshot), ...) — when each nested field
    # IDENTITY first appeared (min begin over its id's row versions).
    # Name-mapped files registered BEFORE a field's identity existed
    # must read it as NULL, never by name (no-resurrection contract).
    nested_begins: tuple = ()


@dataclass(frozen=True)
class DeleteFileMeta:
    delete_file_id: int
    path: str
    path_is_relative: bool
    file_size_bytes: int
    footer_size: Optional[int]
    encryption_key: Optional[str]
    delete_count: Optional[int]


@dataclass(frozen=True)
class DataFileMeta:
    data_file_id: int
    path: str
    path_is_relative: bool
    file_size_bytes: int
    footer_size: Optional[int]
    encryption_key: Optional[str]
    record_count: Optional[int]
    row_id_start: Optional[int]
    mapping_id: Optional[int] = None   # non-NULL ⇒ name-mapped (no field ids)
    delete_file: Optional[DeleteFileMeta] = None
    begin_snapshot: Optional[int] = None  # registration snapshot (defaults fill)


@dataclass(frozen=True)
class AddedFileMeta:
    begin_snapshot: int
    path: str
    path_is_relative: bool
    file_size_bytes: int
    footer_size: Optional[int]
    encryption_key: Optional[str]
    record_count: Optional[int]
    mapping_id: Optional[int] = None   # non-NULL ⇒ name-mapped (add_files)
    row_id_start: Optional[int] = None  # base of the file's rowid range


@dataclass(frozen=True)
class DeleteDeltaMeta:
    """One CDC delete unit: data file + current delete file (None for a
    whole-file delete) + previous delete file (None if first delete)."""
    data_path: str
    data_path_is_relative: bool
    record_count: Optional[int]
    cur_path: Optional[str]
    cur_path_is_relative: Optional[bool]
    prev_path: Optional[str]
    prev_path_is_relative: Optional[bool]
    snapshot_id: int
    mapping_id: Optional[int] = None   # data file's name mapping, if any
    row_id_start: Optional[int] = None  # data file's rowid base (CDC rowid)
    # stored-form PME keys: the data file's and both delete files'
    encryption_key: Optional[str] = None
    cur_encryption_key: Optional[str] = None
    prev_encryption_key: Optional[str] = None


@dataclass(frozen=True)
class MacroMeta:
    macro_id: int
    macro_name: str
    body: str
    macro_type: str                       # 'scalar' | 'table'
    params: list = field(default_factory=list)  # [(name, default|None)]
    schema_name: str = "main"             # owning schema (qualified calls)


def reconstruct_list_columns(rows: list[tuple[ColumnMeta, Optional[int]]],
                             first_begin: Optional[dict] = None
                             ) -> list[ColumnMeta]:
    """Rebuild nested types from DuckLake parent/child column rows:
    a parent row typed 'list' / 'struct' / 'map' carries its children as
    rows with parent_column set (rows arrive in column_order, so struct
    field order and map key-before-value are preserved). Extends the
    reference's list-only reconstruction (metadata_provider.rs:361-410)
    to the full nesting DuckDB-written catalogs record — struct/map
    support is this engine's beyond-reference extension."""
    children: dict[int, list[ColumnMeta]] = {}
    roots: list[ColumnMeta] = []
    for col, parent_id in rows:
        if parent_id is not None:
            children.setdefault(parent_id, []).append(col)
        else:
            roots.append(col)
    if not children:
        return roots

    def render(col: ColumnMeta) -> str:
        kids = children.get(col.column_id, [])
        t = col.column_type.strip().lower()
        if t == "list" and len(kids) == 1:
            return f"list<{render(kids[0])}>"
        if t == "struct" and kids:
            return ("struct<"
                    + ",".join(f"{k.column_name}:{render(k)}" for k in kids)
                    + ">")
        if t == "map" and len(kids) == 2:
            return f"map<{render(kids[0])},{render(kids[1])}>"
        return col.column_type

    def nested_ids_of(root: ColumnMeta) -> tuple:
        out = []

        def walk(col_id: int, prefix: tuple) -> None:
            for k in children.get(col_id, []):
                p = prefix + (k.column_name.lower(),)
                out.append((p, k.column_id))
                walk(k.column_id, p)

        walk(root.column_id, ())
        return tuple(out)

    def nested_begins_of(ids: tuple) -> tuple:
        if not first_begin:
            return ()
        return tuple((p, first_begin[i]) for p, i in ids
                     if i in first_begin)

    out = []
    for c in roots:
        if c.column_id in children:
            ids = nested_ids_of(c)
            out.append(ColumnMeta(
                c.column_id, c.column_name, render(c), c.nulls_allowed,
                c.initial_default, c.default_value, c.begin_snapshot,
                ids, nested_begins_of(ids)))
        else:
            out.append(c)
    return out


class CatalogShape:
    """Which catalog tables and columns exist: ``{table: [columns in
    order]}`` from one dialect statement (``sql.CATALOG_SHAPE``), which
    ``probe`` runs. Catalogs written by older DuckLake versions lack some
    tables and columns; every read and write decides from this one shape
    instead of trying the current SQL and falling back on error.

    Tables and columns are only ever added to a catalog, so a present
    answer never goes stale. An absent one holds until ``stale`` says
    that a newer snapshot may have been read since the shape was; the
    next absent answer after that re-reads it. A catalog that has every
    table and column asked for is read once."""

    def __init__(self, probe):
        self._probe = probe
        self._tables: Optional[dict] = None     # table → (columns, lower set)
        self._epochs = itertools.count(1)
        self._epoch = 0
        self._read_at = -1

    def stale(self) -> None:
        self._epoch = next(self._epochs)

    def forget(self) -> None:
        self._tables = None

    def seed(self, other: "CatalogShape") -> None:
        """Start from ``other``'s present answers (they never go stale);
        the first absent answer still reads the shape."""
        self.rewind(other._tables)

    def rewind(self, tables: Optional[dict]) -> None:
        """Back to answers held earlier (``_tables`` is replaced on each
        read, never changed in place), e.g. those from before a
        transaction that rolled its own DDL back; the first absent
        answer reads the shape again."""
        self._tables, self._read_at = tables, -1

    def _read(self) -> dict:
        epoch = self._epoch
        cols: dict[str, list] = {}
        for t, c in self._probe():
            cols.setdefault(str(t).lower(), []).append(str(c))
        self._tables = {t: (cs, {c.lower() for c in cs})
                        for t, cs in cols.items()}
        self._read_at = epoch
        return self._tables

    def _entry(self, table: str, want: tuple, fresh: bool = False):
        tables = self._tables if self._tables is not None else self._read()
        found = tables.get(table.lower())
        if not self._covers(found, want) and (
                fresh or self._read_at != self._epoch):
            found = self._read().get(table.lower())
        return found

    def columns(self, table: str, *want: str,
                fresh: bool = False) -> Optional[list]:
        """The table's columns in order, or None when it is absent. When
        the table or a ``want`` column is absent, the shape is re-read
        first if it may be older than a snapshot already read — or
        always, with ``fresh`` (a table that another catalog row names,
        so it may have been created since)."""
        found = self._entry(table, want, fresh)
        return None if found is None else found[0]

    def has(self, table: str, *columns: str) -> bool:
        return self._covers(self._entry(table, columns), columns)

    @staticmethod
    def _covers(found, want) -> bool:
        return found is not None and all(w.lower() in found[1] for w in want)


# {alias.column} slots in a catalog read, and the tables it names
_SLOT = re.compile(r"\{(\w+)\.(\w+)\}")
_NAMED = re.compile(r"\b(?:FROM|JOIN)\s+(ducklake_\w+)(?:\s+(?:AS\s+)?(\w+))?",
                    re.IGNORECASE)


@functools.lru_cache(maxsize=None)
def _tables_named(sql: str) -> tuple[tuple, dict]:
    named = _NAMED.findall(sql)
    return tuple({t for t, _a in named}), {a or t: t for t, a in named}


@dataclass(frozen=True)
class Settings:
    """Every ``ducklake_metadata`` row as (key, value, scope, scope_id),
    read in one statement. Settings are not snapshot-versioned, so a
    statement reads them once and never keeps them for the next one."""
    rows: tuple

    def get(self, key: str, schema_id: Optional[int] = None,
            table_id: Optional[int] = None) -> Optional[str]:
        """The DuckLake scoped-settings precedence: table override >
        schema override > global (corpus: sql/settings/
        per_table_settings). Without ids, the global value."""
        best, rank = None, -1
        for k, value, scope, sid in self.rows:
            if k != key:
                continue
            r = (0 if scope is None
                 else 1 if scope == "schema" and sid == schema_id
                 else 2 if scope == "table" and sid == table_id else -1)
            if r > rank:
                best, rank = value, r
        return best

    @property
    def data_path(self) -> str:
        path = self.get("data_path")
        if path is None:
            raise CatalogError(
                "catalog has no data_path in ducklake_metadata")
        return path


class MetadataProvider:
    """Base class: issues the shared SQL over a DB-API connection.
    Subclasses provide the connection and their dialect; all use qmark
    parameters. Reads of tables or columns that older catalog
    generations lack go through ``_read``, which consults the catalog's
    shape: an absent table reads as no rows, an absent column as NULL.
    Every other error propagates."""

    dialect = "sqlite"

    def __init__(self):
        self._shape = CatalogShape(
            lambda: self._fetchall(Q.CATALOG_SHAPE[self.dialect]))

    def _fetchall(self, query: str, params: tuple = ()) -> list[tuple]:
        raise NotImplementedError

    def _read(self, query: str, params: tuple = ()) -> list[tuple]:
        """One catalog read under the catalog's shape: no statement and
        no rows when a table it names is absent; each ``{alias.column}``
        slot reads the column, or NULL where the column is absent."""
        tables, alias = _tables_named(query)
        if not all(self._shape.has(t) for t in tables):
            return []
        return self._fetchall(_SLOT.sub(
            lambda m: f"{m[1]}.{m[2]}"
            if self._shape.has(alias[m[1]], m[2]) else "NULL", query),
            params)

    def has(self, table: str, *columns: str) -> bool:
        """Whether the catalog has ``table`` with every one of
        ``columns``."""
        return self._shape.has(table, *columns)

    def _snapshots(self, rows: list[tuple]) -> list[tuple]:
        # a newer snapshot may be read from here on: a table or column
        # the shape lacked may exist at it
        self._shape.stale()
        return rows

    # --- snapshot / schema / table lookups --------------------------------

    def get_current_snapshot(self) -> int:
        return int(self._snapshots(
            self._fetchall(Q.GET_LATEST_SNAPSHOT))[0][0])

    def head(self) -> tuple[int, int]:
        """(latest snapshot id, catalog version) in one statement. The
        version is the highest snapshot id ever allocated, a ROLLBACK's
        included: it equals the one read before iff no commit and no
        rollback happened in between."""
        if not self.has("ducklake_snapshot_changes"):
            sid = self.get_current_snapshot()
            return sid, sid
        sid, top = self._snapshots(self._fetchall(Q.GET_HEAD))[0]
        return int(sid), max(int(sid), int(top or 0))

    def list_snapshots(self) -> list[SnapshotMeta]:
        return [SnapshotMeta(int(r[0]), r[1], r[2], r[3])
                for r in self._snapshots(self._read(Q.LIST_SNAPSHOTS))]

    def list_schemas(self, snapshot_id: int) -> list[SchemaMeta]:
        return [SchemaMeta(int(r[0]), r[1], r[2], bool(r[3]))
                for r in self._fetchall(Q.LIST_SCHEMAS,
                                        (snapshot_id, snapshot_id))]

    def list_tables(self, schema_id: int, snapshot_id: int) -> list[TableMeta]:
        return [TableMeta(int(r[0]), r[1], r[2], bool(r[3]))
                for r in self._fetchall(Q.LIST_TABLES,
                                        (schema_id, snapshot_id, snapshot_id))]

    def list_views(self, schema_id: int, snapshot_id: int) -> list["ViewMeta"]:
        """Live catalog views (DuckLake spec ``ducklake_view``)."""
        return [ViewMeta(int(r[0]), r[1], r[2], r[3])
                for r in self._read(Q.LIST_VIEWS,
                                    (schema_id, snapshot_id, snapshot_id))]

    def get_schema_by_name(self, name: str, snapshot_id: int) -> Optional[SchemaMeta]:
        rows = self._fetchall(Q.GET_SCHEMA_BY_NAME, (name, snapshot_id, snapshot_id))
        return SchemaMeta(int(rows[0][0]), rows[0][1], rows[0][2],
                          bool(rows[0][3])) if rows else None

    def get_table_by_name(self, schema_id: int, name: str,
                          snapshot_id: int) -> Optional[TableMeta]:
        rows = self._fetchall(Q.GET_TABLE_BY_NAME,
                              (schema_id, name, snapshot_id, snapshot_id))
        return TableMeta(int(rows[0][0]), rows[0][1], rows[0][2],
                         bool(rows[0][3])) if rows else None

    def table_exists(self, schema_id: int, name: str, snapshot_id: int) -> bool:
        rows = self._fetchall(Q.TABLE_EXISTS,
                              (schema_id, name, snapshot_id, snapshot_id))
        return bool(rows[0][0])

    def get_table_columns(self, table_id: int,
                          snapshot_id: int) -> list[ColumnMeta]:
        rows = self._read(Q.GET_TABLE_COLUMNS,
                          (table_id, snapshot_id, snapshot_id))
        raw = [(ColumnMeta(int(r[0]), r[1], r[2],
                           bool(r[3]) if r[3] is not None else True,
                           r[5], r[6],
                           int(r[7]) if r[7] is not None else None),
                int(r[4]) if r[4] is not None else None)
               for r in rows]
        first_begin = None
        if any(p is not None for _c, p in raw):
            # first appearance of each nested field IDENTITY (min begin
            # over its id's versions) — the no-resurrection boundary for
            # name-mapped files
            first_begin = {int(r[0]): int(r[1]) for r in self._fetchall(
                "SELECT column_id, MIN(begin_snapshot) "
                "FROM ducklake_column WHERE table_id = ? "
                "AND parent_column IS NOT NULL GROUP BY column_id",
                (table_id,))}
        return reconstruct_list_columns(raw, first_begin)

    def get_nested_field_defaults(self, table_id: int,
                                  snapshot_id: int) -> list[tuple]:
        """[(parent_name, field_name, initial_default, first_begin)] for
        live top-level-struct fields carrying a nested DEFAULT
        (sql/default/struct_field_default.test). first_begin = the field
        identity's first appearance — files registered before it read
        the default instead of NULL."""
        return [(r[0], r[1], r[2], int(r[3])) for r in self._read(
            "SELECT p.column_name, c.column_name, {c.initial_default}, "
            "(SELECT MIN(begin_snapshot) FROM ducklake_column "
            " WHERE table_id = c.table_id AND column_id = c.column_id) "
            "FROM ducklake_column c "
            "JOIN ducklake_column p ON c.parent_column = p.column_id "
            "AND p.table_id = c.table_id "
            "WHERE c.table_id = ? AND {c.initial_default} IS NOT NULL "
            "AND p.parent_column IS NULL "
            "AND c.begin_snapshot <= ? "
            "AND (c.end_snapshot IS NULL OR c.end_snapshot > ?) "
            "AND p.begin_snapshot <= ? "
            "AND (p.end_snapshot IS NULL OR p.end_snapshot > ?)",
            (table_id, snapshot_id, snapshot_id, snapshot_id,
             snapshot_id))]

    def get_data_files(self, table_id: int, snapshot_id: int) -> list[DataFileMeta]:
        rows = self._fetchall(
            Q.GET_DATA_FILES,
            (table_id, snapshot_id, snapshot_id, table_id, snapshot_id, snapshot_id))
        out = []
        for r in rows:
            # numeric metadata validation (ref: numeric_metadata_
            # validation_tests.rs): a negative file_size_bytes is
            # catalog corruption and must fail loudly; a negative
            # footer_size is only a hint and is gracefully skipped
            if r[3] is not None and int(r[3]) < 0:
                raise CatalogCorruption(
                    f"Invalid file_size_bytes {int(r[3])} for data file "
                    f"{r[1]!r} (catalog corruption)")
            footer = int(r[4]) if r[4] is not None and int(r[4]) >= 0 \
                else None
            delete = None
            if r[9] is not None:
                delete = DeleteFileMeta(int(r[9]), r[10], bool(r[11]), int(r[12]),
                                        int(r[13]) if r[13] is not None else None,
                                        r[14],
                                        int(r[15]) if r[15] is not None else None)
            out.append(DataFileMeta(
                int(r[0]), r[1], bool(r[2]), int(r[3]),
                footer, r[5],
                int(r[6]) if r[6] is not None else None,
                int(r[7]) if r[7] is not None else None,
                mapping_id=int(r[8]) if r[8] is not None else None,
                delete_file=delete,
                begin_snapshot=int(r[16]) if r[16] is not None else None))
        return out

    def get_file_column_stats(self, table_id: int, snapshot_id: int
                              ) -> dict[int, dict[int, tuple]]:
        """{data_file_id: {column_id: (null_count, min_value, max_value)}}
        for the table's live files. Catalogs predating the stats table
        (or never writing it) return {} — pruning then keeps every file."""
        out: dict[int, dict[int, tuple]] = {}
        for fid, cid, nulls, mn, mx in self._read(
                Q.GET_FILE_COLUMN_STATS, (table_id, snapshot_id, snapshot_id)):
            out.setdefault(int(fid), {})[int(cid)] = (
                int(nulls) if nulls is not None else None, mn, mx)
        return out

    def get_file_extra_stats(self, table_id: int, snapshot_id: int
                             ) -> dict[int, dict[int, str]]:
        """{data_file_id: {column_id: extra_stats_json}} for the table's
        live files (geometry bbox pruning)."""
        out: dict[int, dict[int, str]] = {}
        for fid, cid, extra in self._read(
                "SELECT s.data_file_id, s.column_id, {s.extra_stats} "
                "FROM ducklake_file_column_stats s "
                "JOIN ducklake_data_file data "
                "ON s.data_file_id = data.data_file_id "
                "WHERE s.table_id = ? AND {s.extra_stats} IS NOT NULL "
                "AND data.begin_snapshot <= ? "
                "AND (data.end_snapshot IS NULL OR data.end_snapshot > ?)",
                (table_id, snapshot_id, snapshot_id)):
            out.setdefault(int(fid), {})[int(cid)] = extra
        return out

    def get_raw_file_column_stats(self) -> list[tuple]:
        """All ducklake_file_column_stats rows (incl. extra_stats) for the
        SQL-callable stats functions."""
        return self._read(
            "SELECT s.data_file_id, s.table_id, s.column_id, "
            "s.column_size_bytes, s.value_count, s.null_count, s.min_value, "
            "s.max_value, s.contains_nan, {s.extra_stats} "
            "FROM ducklake_file_column_stats s")

    def get_raw_table_column_stats(self) -> list[tuple]:
        return self._read(
            "SELECT s.table_id, s.column_id, s.contains_null, "
            "s.contains_nan, s.min_value, s.max_value, {s.extra_stats} "
            "FROM ducklake_table_column_stats s")

    def snapshot_exists(self, snapshot_id: int) -> bool:
        rows = self._snapshots(self._fetchall(
            "SELECT 1 FROM ducklake_snapshot WHERE snapshot_id = ?",
            (int(snapshot_id),)))
        return bool(rows)

    def get_snapshot_at_timestamp(self, ts: str) -> Optional[int]:
        """Newest snapshot at or before the ISO timestamp (the
        AT (TIMESTAMP => ...) resolution rule). Lexicographic compare is
        exact for the ISO-rendered snapshot_time."""
        rows = self._snapshots(self._fetchall(
            "SELECT MAX(snapshot_id) FROM ducklake_snapshot "
            "WHERE CAST(snapshot_time AS VARCHAR) <= ?", (ts,)))
        return int(rows[0][0]) if rows and rows[0][0] is not None else None

    def get_snapshot_before_timestamp(self, ts: str) -> Optional[int]:
        """Newest snapshot STRICTLY before the ISO timestamp — the
        exclusive-start CDC bound: table_changes(t, ts, ...) must
        include snapshots committed AT ts (upstream issue #330,
        table_changes/ducklake_lower_timestamp.test)."""
        rows = self._snapshots(self._fetchall(
            "SELECT MAX(snapshot_id) FROM ducklake_snapshot "
            "WHERE CAST(snapshot_time AS VARCHAR) < ?", (ts,)))
        return int(rows[0][0]) if rows and rows[0][0] is not None else None

    def get_catalog_table_columns(self, table: str) -> list[str]:
        """Column names of one metadata-catalog table, in DDL order — the
        SQL metadata passthrough's schema source (upstream ATTACHes the
        metadata DB as a queryable catalog, e.g.
        __ducklake_metadata_ducklake.ducklake_macro); [] when absent."""
        return list(self._shape.columns(table) or [])

    def get_snapshot_changes(self, after: Optional[int] = None,
                             upto: Optional[int] = None
                             ) -> dict[int, Optional[str]]:
        """{snapshot_id: changes_made} from ducklake_snapshot_changes —
        the per-snapshot change summary real DuckLake catalogs record
        (surfaces as the ``changes`` column of ducklake_snapshots()).

        With ``after``/``upto``, ids in (after, upto] only, in one
        statement: every snapshot there is a key, None when it has no
        change row, and a change row without a snapshot (a ROLLBACK's)
        is a key too. A catalog without the table has no keys."""
        if after is None:
            return {int(r[0]): r[1] for r in self._read(
                "SELECT c.snapshot_id, c.changes_made "
                "FROM ducklake_snapshot_changes c")}
        out: dict[int, Optional[str]] = {}
        for sid, changes in self._read(Q.SNAPSHOT_CHANGES_BETWEEN,
                                       (after, upto, after, upto)):
            sid = int(sid)
            out[sid] = ",".join(filter(None, (out.get(sid), changes))) \
                or None
        return out

    def list_registered_file_names(self) -> list[str]:
        """Every data/delete file path the catalog has EVER registered
        (any snapshot, live or ended) — the known-files set for orphan
        detection (corpus: sql/remove_orphans/)."""
        rows = self._fetchall(
            "SELECT path FROM ducklake_data_file "
            "UNION SELECT path FROM ducklake_delete_file")
        return [r[0] for r in rows]

    def list_registered_file_paths(self) -> list[tuple]:
        """(file_path, file_rel, table_path, table_rel, schema_path,
        schema_rel) for every data/delete file EVER registered, across
        EVERY table/schema path era (renames yield one row per era) —
        the orphan-detection known set resolved to full paths, so two
        files with the same basename in different directories never
        shadow each other (corpus: sql/remove_orphans/mixed_paths.test)."""
        sql = ("SELECT f.path, f.path_is_relative, t.path, "
               "t.path_is_relative, s.path, s.path_is_relative "
               "FROM {tbl} f "
               "JOIN ducklake_table t ON f.table_id = t.table_id "
               "JOIN ducklake_schema s ON t.schema_id = s.schema_id")
        return (self._fetchall(sql.format(tbl="ducklake_data_file")) +
                self._fetchall(sql.format(tbl="ducklake_delete_file")))

    def settings(self) -> Settings:
        """Every catalog setting at every scope, in one statement."""
        return Settings(tuple(
            (str(k), None if v is None else str(v), s,
             None if sid is None else int(sid))
            for k, v, s, sid in self._read(Q.LIST_SETTINGS)))

    def list_options(self) -> list[tuple]:
        """Every persisted ducklake_metadata row as (key, value, scope,
        scope_id) — the ducklake_options() listing (corpus:
        sql/settings/per_table_settings.test). Pre-scope catalogs
        surface every row as global."""
        return list(self.settings().rows)

    def get_option(self, key: str) -> Optional[str]:
        """GLOBAL catalog option from ducklake_metadata (e.g.
        data_inlining_row_limit), or None."""
        return self.settings().get(key)

    def get_scoped_option(self, key: str, schema_id: int,
                          table_id: int) -> Optional[str]:
        """Option with table > schema > global precedence; None when
        unset anywhere."""
        return self.settings().get(key, schema_id, table_id)

    def list_option_values(self, key: str) -> list[str]:
        """Every value stored under ``key`` at ANY scope (all schema/table
        overrides plus the global row). Used by the orphan-file sweep to
        discover engine-owned files recorded only in options (clustering
        replicas), which must never be deleted as orphans — so errors
        PROPAGATE: a transient failure returning [] here would let the
        sweep delete live replica files."""
        return [v for k, v, _s, _sid in self.settings().rows
                if k == key and v is not None]

    def get_data_path(self) -> str:
        return self.settings().data_path

    # --- CDC --------------------------------------------------------------

    def get_data_files_added_between(self, table_id: int, start: int,
                                     end: int) -> list[AddedFileMeta]:
        return [AddedFileMeta(int(r[0]), r[1], bool(r[2]), int(r[3]),
                              int(r[4]) if r[4] is not None else None, r[5],
                              int(r[6]) if r[6] is not None else None,
                              int(r[7]) if r[7] is not None else None,
                              int(r[8]) if r[8] is not None else None)
                for r in self._fetchall(Q.DATA_FILES_ADDED_BETWEEN,
                                        (table_id, start, end))]

    def get_delete_files_added_between(self, table_id: int, start: int,
                                       end: int) -> list[DeleteDeltaMeta]:
        return [DeleteDeltaMeta(
                    r[0], bool(r[1]), int(r[2]) if r[2] is not None else None,
                    r[3], bool(r[4]) if r[4] is not None else None,
                    r[5], bool(r[6]) if r[6] is not None else None,
                    int(r[7]), int(r[8]) if r[8] is not None else None,
                    int(r[9]) if r[9] is not None else None,
                    r[10], r[11], r[12])
                for r in self._fetchall(Q.DELETE_FILES_ADDED_BETWEEN,
                                        (table_id, start, end, table_id, start, end))]

    # --- inlined data, macros, partitions, name mappings, tags -------------

    def get_inlined_tables(self, table_id: int) -> list[str]:
        """Names of the table's inlined-data tables from the
        ``ducklake_inlined_data_tables`` registry (DuckLake data
        inlining: DuckDB stores small inserts as ROWS IN THE CATALOG DB,
        one table per (table_id, schema_version), instead of parquet).
        Catalogs that predate the feature have no registry — []."""
        names = [r[0] for r in self._read(
            "SELECT r.table_name FROM ducklake_inlined_data_tables r "
            "WHERE r.table_id = ?", (table_id,))]
        for n in names:
            # registry content reaches SQL identifiers — harden like paths
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n):
                raise CatalogCorruption(
                    f"invalid inlined-data table name in catalog: {n!r}")
        return names

    def get_inlined_rows(self, inline_table: str, column_names: list[str],
                         snapshot_id: int) -> list[tuple]:
        """Live rows of one inlined-data table at ``snapshot_id``:
        (row_id, <data columns...>, begin_snapshot) filtered by the
        table's own begin/end_snapshot MVCC columns — inlined rows
        version exactly like data files do."""
        return self._select_inlined(
            inline_table, column_names, "begin_snapshot",
            "begin_snapshot <= ? "
            "AND (end_snapshot IS NULL OR end_snapshot > ?)",
            (snapshot_id, snapshot_id))

    def get_inlined_changes(self, inline_table: str,
                            column_names: list[str], start: int, end: int,
                            ended: bool = False) -> list[tuple]:
        """Rows of one inlined-data table inserted — or, ``ended``,
        ended — in snapshot range (start, end]: (row_id, <data
        columns...>, that begin (end) snapshot). The change feed's one
        inlined-row read."""
        col = "end_snapshot" if ended else "begin_snapshot"
        return self._select_inlined(
            inline_table, column_names, col, f"{col} > ? AND {col} <= ?",
            (start, end))

    def _select_inlined(self, inline_table: str, column_names: list[str],
                        snapshot_col: str, where: str,
                        params: tuple) -> list[tuple]:
        # Schema-evolution tolerance (sql/data_inlining/
        # data_inlining_alter.test): a column ADDed after the rows were
        # inlined is absent from the inline table — it reads NULL, same
        # as a parquet file missing the field id. Dropped columns simply
        # stop being selected. The registry names the table, so the
        # shape is re-read when it lacks the table or a column.
        have = self._shape.columns(inline_table, *column_names, fresh=True)
        if have is None:
            raise CatalogCorruption(
                f"inlined-data table {inline_table!r} is registered but "
                "absent from the catalog")
        have = {c.lower() for c in have}
        cols = ", ".join(
            f'"{c}"' if c.lower() in have else f'NULL AS "{c}"'
            for c in column_names)
        # the snapshot trails the data columns (consumers zip against
        # the schema, so the extra element is only read where needed)
        return self._fetchall(
            f'SELECT row_id, {cols}, {snapshot_col} FROM "{inline_table}" '
            f"WHERE {where}", params)

    def list_macros(self, snapshot_id: int) -> list["MacroMeta"]:
        """Live catalog macros at the snapshot (DuckLake macro tables;
        layout per the reference's sql/macros/ corpus). Catalogs without
        the tables have no macros."""
        rows = self._read(
            "SELECT m.macro_id, m.macro_name, i.body, i.macro_type, "
            "COALESCE(s.schema_name, 'main') "
            "FROM ducklake_macro m "
            "JOIN ducklake_macro_impl i ON m.macro_id = i.macro_id "
            "LEFT JOIN ducklake_schema s ON m.schema_id = s.schema_id "
            "AND s.end_snapshot IS NULL "
            "WHERE m.begin_snapshot <= ? "
            "AND (m.end_snapshot IS NULL OR m.end_snapshot > ?)",
            (snapshot_id, snapshot_id))
        out = []
        for mid, name, body, kind, schema_name in rows:
            params = self._read(
                "SELECT p.parameter_name, p.default_value "
                "FROM ducklake_macro_parameters p WHERE p.macro_id = ? "
                "ORDER BY p.position", (int(mid),))
            out.append(MacroMeta(int(mid), name, body, kind,
                                 [(p, d) for p, d in params],
                                 str(schema_name)))
        return out

    def get_partition_columns(self, table_id: int,
                              snapshot_id: int) -> list[tuple]:
        """[(partition_key_index, column_id, transform)] of the LIVE
        partition spec (DuckLake ducklake_partition_info/_column);
        transform ∈ identity/year/month/day/hour (sql/partitioning/
        year_month_day.test). [] when the table is unpartitioned or the
        catalog predates the feature; legacy catalogs without the
        transform column read as identity."""
        return [(int(r[0]), int(r[1]), (r[2] or "identity").lower())
                for r in self._read(
                    "SELECT c.partition_key_index, c.column_id, "
                    "{c.transform} "
                    "FROM ducklake_partition_info i "
                    "JOIN ducklake_partition_column c "
                    "ON i.partition_id = c.partition_id "
                    "AND i.table_id = c.table_id "
                    "WHERE i.table_id = ? AND i.begin_snapshot <= ? "
                    "AND (i.end_snapshot IS NULL OR i.end_snapshot > ?) "
                    "ORDER BY c.partition_key_index",
                    (table_id, snapshot_id, snapshot_id))]

    def get_file_partition_values(self, table_id: int
                                  ) -> dict[int, dict[int, Optional[str]]]:
        """{data_file_id: {partition_key_index: value_str}} — exact
        per-file partition values for pruning."""
        out: dict[int, dict[int, Optional[str]]] = {}
        for fid, idx, val in self._read(
                "SELECT v.data_file_id, v.partition_key_index, "
                "v.partition_value FROM ducklake_file_partition_value v "
                "WHERE v.table_id = ?", (table_id,)):
            out.setdefault(int(fid), {})[int(idx)] = val
        return out

    def get_name_mappings(self, table_id: int
                          ) -> dict[int, list[tuple[int, str, bool]]]:
        """{mapping_id: [(column_id, source_name, is_partition)]} — the
        map_by_name column mappings of externally-added files (DuckLake
        add_files contract: the file's columns resolve by SOURCE NAME to a
        column_id, so later renames/drops never re-read footers, and
        is_partition rows take their value from hive-style ``name=value``
        path segments; corpus: sql/add_files/). {} when the catalog
        predates name mappings."""
        out: dict[int, list[tuple[int, str, bool]]] = {}
        for mid, cid, src, part in self._read(
                "SELECT n.mapping_id, n.column_id, n.source_name, "
                "{n.is_partition} "
                "FROM ducklake_name_mapping n "
                "JOIN ducklake_column_mapping m "
                "ON n.mapping_id = m.mapping_id "
                "WHERE m.table_id = ?",
                (table_id,)):
            out.setdefault(int(mid), []).append(
                (int(cid), src, bool(part)))
        return out

    def get_tag(self, object_id: int, key: str,
                snapshot_id: int) -> Optional[str]:
        """Live value of one object tag (ducklake_tag; COMMENT ON uses
        key='comment'), or None."""
        rows = self._read(
            "SELECT g.value FROM ducklake_tag g WHERE g.object_id = ? "
            "AND g.key = ? AND g.begin_snapshot <= ? "
            "AND (g.end_snapshot IS NULL OR g.end_snapshot > ?)",
            (object_id, key, snapshot_id, snapshot_id))
        return rows[0][0] if rows else None

    def get_column_tag(self, table_id: int, column_id: int, key: str,
                       snapshot_id: int) -> Optional[str]:
        rows = self._read(
            "SELECT g.value FROM ducklake_column_tag g WHERE g.table_id = ? "
            "AND g.column_id = ? AND g.key = ? AND g.begin_snapshot <= ? "
            "AND (g.end_snapshot IS NULL OR g.end_snapshot > ?)",
            (table_id, column_id, key, snapshot_id, snapshot_id))
        return rows[0][0] if rows else None

    def count_ended_files(self, table_id: int) -> int:
        """Number of data files ever REMOVED from the table (overwrite /
        compaction history) — the append-only guard for directory-glob
        streaming."""
        return int(self._fetchall(
            "SELECT COUNT(*) FROM ducklake_data_file "
            "WHERE table_id = ? AND end_snapshot IS NOT NULL",
            (table_id,))[0][0])

    def list_all_tables(self, snapshot_id: int) -> list[tuple[str, TableMeta]]:
        return [(r[0], TableMeta(int(r[1]), r[2], r[3], bool(r[4])))
                for r in self._fetchall(Q.LIST_ALL_TABLES, (snapshot_id,) * 4)]

    def list_all_columns(self, snapshot_id: int
                         ) -> list[tuple[str, str, ColumnMeta]]:
        raw = self._fetchall(Q.LIST_ALL_COLUMNS, (snapshot_id,) * 6)
        # group per table, reconstruct lists within each
        grouped: dict[tuple[str, str], list] = {}
        for r in raw:
            grouped.setdefault((r[0], r[1]), []).append(
                (ColumnMeta(int(r[2]), r[3], r[4],
                            bool(r[5]) if r[5] is not None else True),
                 int(r[6]) if r[6] is not None else None))
        out = []
        for (schema_name, table_name), cols in grouped.items():
            for c in reconstruct_list_columns(cols):
                out.append((schema_name, table_name, c))
        return out

    def list_all_files(self, snapshot_id: int
                       ) -> list[tuple[str, str, DataFileMeta]]:
        rows = self._fetchall(Q.LIST_ALL_FILES, (snapshot_id,) * 8)
        out = []
        for r in rows:
            delete = None
            if r[11] is not None:
                delete = DeleteFileMeta(int(r[11]), r[12], bool(r[13]), int(r[14]),
                                        int(r[15]) if r[15] is not None else None,
                                        r[16],
                                        int(r[17]) if r[17] is not None else None)
            out.append((r[0], r[1], DataFileMeta(
                int(r[2]), r[3], bool(r[4]), int(r[5]),
                int(r[6]) if r[6] is not None else None, r[7],
                int(r[8]) if r[8] is not None else None,
                int(r[9]) if r[9] is not None else None,
                mapping_id=int(r[10]) if r[10] is not None else None,
                delete_file=delete)))
        return out


class SqliteMetadataProvider(MetadataProvider):
    """SQLite catalog access (ref: metadata_provider_sqlite.rs). One
    connection guarded by a lock — catalog queries are driver-side and
    sub-millisecond; contention is not a concern."""

    def __init__(self, db_path: str):
        super().__init__()
        self._conn = sqlite3.connect(db_path, check_same_thread=False)
        self._lock = threading.Lock()

    def _fetchall(self, query: str, params: tuple = ()) -> list[tuple]:
        with self._lock:
            cur = self._conn.execute(query, params)
            return cur.fetchall()

    def close(self) -> None:
        self._conn.close()


class DuckdbMetadataProvider(MetadataProvider):
    """DuckDB catalog access, read-only connection
    (ref: metadata_provider_duckdb.rs:16-70)."""

    dialect = "duckdb"

    def __init__(self, db_path: str):
        super().__init__()
        import duckdb
        # Read-write connection even though the provider only reads:
        # DuckDB rejects same-file connections with DIFFERENT configs in
        # one process, and the catalog WRITER needs a read-write one for
        # DML/DDL over duckdb-format catalogs (META_TYPE 'DUCKDB').
        # Read-only is still honored where it matters: sessions enforce
        # it at the API layer, and an unwritable file falls back here.
        # The read-write open fails in more than one way (an unwritable
        # file, another process's lock), so this read-only retry is the
        # one broad handler of this module.
        try:
            self._conn = duckdb.connect(db_path)
        except Exception:
            self._conn = duckdb.connect(db_path, read_only=True)
        self._lock = threading.Lock()

    def _fetchall(self, query: str, params: tuple = ()) -> list[tuple]:
        with self._lock:
            return self._conn.execute(query, params).fetchall()

    def close(self) -> None:
        self._conn.close()


class PostgresMetadataProvider(MetadataProvider):
    """Postgres catalog access (ref: metadata_provider_postgres.rs).
    Same SQL surface; qmark params are rewritten to %s (psycopg style).
    Import-gated: psycopg is not bundled in every environment."""

    dialect = "postgres"

    def __init__(self, dsn: str):
        super().__init__()
        try:
            import psycopg
        except ImportError as e:  # pragma: no cover - driver not in container
            raise CatalogError(
                "PostgresMetadataProvider requires the 'psycopg' package") from e
        self._conn = psycopg.connect(dsn)
        self._lock = threading.Lock()

    def _fetchall(self, query: str, params: tuple = ()) -> list[tuple]:
        with self._lock, self._conn.cursor() as cur:
            cur.execute(query.replace("?", "%s"), params)
            return cur.fetchall()

    def close(self) -> None:
        self._conn.close()


class MySqlMetadataProvider(MetadataProvider):
    """MySQL catalog access (ref: metadata_provider_mysql.rs).
    Import-gated on mysql-connector; %s param style."""

    dialect = "mysql"

    def __init__(self, **connect_kwargs):
        super().__init__()
        try:
            import mysql.connector
        except ImportError as e:  # pragma: no cover - driver not in container
            raise CatalogError(
                "MySqlMetadataProvider requires the 'mysql-connector-python' "
                "package") from e
        self._conn = mysql.connector.connect(**connect_kwargs)
        self._lock = threading.Lock()

    def _fetchall(self, query: str, params: tuple = ()) -> list[tuple]:
        with self._lock:
            cur = self._conn.cursor()
            try:
                cur.execute(query.replace("?", "%s"), params)
                return cur.fetchall()
            finally:
                cur.close()

    def close(self) -> None:
        self._conn.close()


def live_set_digest_of(files) -> str:
    """Digest over an already-fetched ``get_data_files`` row list — see
    :func:`live_set_digest`; callers that need the file list for other
    checks too (clustering_status_rows) avoid a second catalog query."""
    import hashlib
    import json
    rows = sorted(
        (f.path, bool(f.path_is_relative),
         f.delete_file.path if f.delete_file is not None else "",
         int(f.begin_snapshot or 0))
        for f in files)
    return hashlib.md5(
        json.dumps(rows, separators=(",", ":")).encode()).hexdigest()


def live_set_digest(provider: "MetadataProvider", table_id: int,
                    snapshot_id: int) -> str:
    """Digest of a table's live file set at a snapshot, from the RAW
    catalog rows — sorted (path, is_relative, delete path,
    begin_snapshot) tuples. Resolution-independent on purpose: a catalog
    whose data_path moved keeps valid clustering replicas (their bucket
    dirs are relative to the table path and move with it), and the
    ``ducklake_clustering_info()`` function can compute it provider-only,
    without a SparkSession. Gating property (shared with the
    resolved-URI definition this replaced in r9): any DML changes the
    row set — insert adds rows, delete/update swap the delete path,
    compaction replaces paths — and a read at another snapshot sees a
    different set, so a spec-recorded digest gates the replica fast path
    against both staleness and time travel."""
    return live_set_digest_of(provider.get_data_files(table_id,
                                                      snapshot_id))


def provider_for(catalog_path: str) -> MetadataProvider:
    """Pick a backend from the catalog path: .db/.duckdb → DuckDB (falls
    back to SQLite if the file is SQLite-format), else SQLite."""
    if catalog_path.startswith(("postgresql://", "postgres://")):
        return PostgresMetadataProvider(catalog_path)
    if catalog_path.startswith("mysql://"):
        from urllib.parse import urlparse
        u = urlparse(catalog_path)
        return MySqlMetadataProvider(
            host=u.hostname, port=u.port or 3306, user=u.username,
            password=u.password, database=u.path.lstrip("/"))
    if catalog_path.endswith((".duckdb", ".ddb")):
        return DuckdbMetadataProvider(catalog_path)
    if catalog_path.endswith((".sqlite", ".sqlite3", ".db")):
        # sniff: SQLite files start with the 16-byte magic header
        try:
            with open(catalog_path, "rb") as f:
                magic = f.read(16)
            if magic.startswith(b"SQLite format 3"):
                return SqliteMetadataProvider(catalog_path)
        except FileNotFoundError:
            pass
        return DuckdbMetadataProvider(catalog_path)
    return SqliteMetadataProvider(catalog_path)
