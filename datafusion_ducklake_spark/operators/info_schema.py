"""information_schema views and the ``ducklake_*`` SQL table functions.

Reference parity (SURVEY.md §2A A13-A14; src/information_schema.rs):
snapshots (:44-111), schemata (:115-206), tables (:210-317),
table_info (:428-590 incl. per-table file/byte aggregation :469-539),
columns (:321-424), files (:594-706). Live-queried from the catalog DB on
every call via the bulk queries (metadata_provider.rs:200-264), then
served as small DataFrames — Spark's analog of the reference's MemTable
(projection/filter/limit come free from Catalyst).

One builder per relation, one lookup (``relation``): ``DuckLakeSession
.sql`` resolves ``information_schema.<view>``, ``ducklake_metadata.<t>``
and ``ducklake_<fn>(...)`` calls to these builders when the statement is
planned, at the session's pinned snapshot (table_functions.rs:370-394
registers the reference's equivalents).
"""

from __future__ import annotations

import json
import os
import re
from functools import lru_cache

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import (DuckLakeError, InvalidConfig, TableNotFound,
                      UnsupportedType)

_CONVERT = {T.StringType: str, T.BooleanType: bool, T.LongType: int,
            T.IntegerType: int, T.DoubleType: float}


@lru_cache(maxsize=64)
def _ddl_json(ddl: str) -> str:
    return T.DataType.fromDDL(ddl).json()


def local_df(spark, rows, schema) -> DataFrame:
    """Driver-side rows as an Arrow-backed ``LocalRelation``: no
    Python-worker job on read, unlike ``createDataFrame(tuples)``'s
    pickled ``LogicalRDD``. ``schema`` is a DDL string or StructType and
    is kept exactly (names, types, nullability); each value is coerced
    to its field's Python type (SQLite hands booleans back as 0/1)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T.StructType.fromJson(json.loads(_ddl_json(schema)))
    arrow = to_arrow_schema(schema)
    cols = []
    for i, (f, af) in enumerate(zip(schema.fields, arrow)):
        conv = _CONVERT.get(type(f.dataType))
        vals = [r[i] for r in rows]
        if conv is not None:
            vals = [None if v is None else conv(v) for v in vals]
        cols.append(pa.array(vals, af.type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow),
                                 schema)


# a snapshot whose change labels include one of these bumps
# ducklake_snapshots().schema_version (sql/functions/ducklake_snapshots.test)
_DDL_CHANGES = ("created", "dropped", "altered", "renamed", "promoted")


def _snapshot_rows(session) -> list[tuple]:
    changes = session.provider.get_snapshot_changes()
    return [(s.snapshot_id, s.snapshot_time, s.author, s.commit_message,
             changes.get(s.snapshot_id))
            for s in session.provider.list_snapshots()]


def snapshots_df(session) -> DataFrame:
    return local_df(session.spark, _snapshot_rows(session),
                    "snapshot_id BIGINT, snapshot_time STRING, "
                    "author STRING, commit_message STRING, changes STRING")


def ducklake_snapshots_df(session) -> DataFrame:
    """``snapshots`` plus DuckDB's derived ``schema_version``: the
    catalog stores changes, not versions, so it counts the DDL-bearing
    snapshots after the bootstrap."""
    rows, version = [], 0
    for r in sorted(_snapshot_rows(session), key=lambda r: r[0]):
        if r[0] > 0 and r[4] and any(k in r[4] for k in _DDL_CHANGES):
            version += 1
        rows.append((r[0], version) + r[1:])
    return local_df(session.spark, rows,
                    "snapshot_id BIGINT, schema_version BIGINT, "
                    "snapshot_time STRING, author STRING, "
                    "commit_message STRING, changes STRING")


def schemata_df(session) -> DataFrame:
    snap = session.catalog.snapshot_id
    rows = [(s.schema_id, s.schema_name, s.path, s.path_is_relative)
            for s in session.provider.list_schemas(snap)]
    return local_df(session.spark, rows,
                    "schema_id BIGINT, schema_name STRING, path STRING, "
                    "path_is_relative BOOLEAN")


def tables_df(session) -> DataFrame:
    snap = session.catalog.snapshot_id
    rows = [(schema_name, t.table_id, t.table_name, t.path, t.path_is_relative)
            for schema_name, t in session.provider.list_all_tables(snap)]
    return local_df(session.spark, rows,
                    "schema_name STRING, table_id BIGINT, table_name STRING, "
                    "path STRING, path_is_relative BOOLEAN")


def columns_df(session) -> DataFrame:
    snap = session.catalog.snapshot_id
    by_table: dict = {}
    rows = []
    for schema_name, table_name, c in session.provider.list_all_columns(snap):
        pos = by_table.get((schema_name, table_name), 0) + 1
        by_table[(schema_name, table_name)] = pos
        rows.append((schema_name, table_name, c.column_id, c.column_name,
                     c.column_type, c.nulls_allowed,
                     # SQL-standard aliases (DuckDB exposes both shapes)
                     c.column_type, "YES" if c.nulls_allowed else "NO",
                     pos))
    # VIEW columns surface too (upstream sql/view/
    # ducklake_view_info_columns.test): resolved from the view's own
    # plan schema; column_id is NULL — views have no stored columns.
    # Re-entrancy guard: a view whose body queries information_schema
    # would otherwise recurse through this resolution.
    if not getattr(session, "_resolving_view_columns", False):
        session._resolving_view_columns = True
        try:
            _append_view_columns(session, snap, rows)
        finally:
            session._resolving_view_columns = False
    return local_df(session.spark, rows,
                    "schema_name STRING, table_name STRING, "
                    "column_id BIGINT, column_name STRING, "
                    "column_type STRING, nulls_allowed BOOLEAN, "
                    "data_type STRING, is_nullable STRING, "
                    "ordinal_position INT")


def _append_view_columns(session, snap, rows) -> None:
    from ..types import spark_to_ducklake_type
    for sch in session.provider.list_schemas(snap):
        for v in session.provider.list_views(sch.schema_id, snap):
            key = (f"{sch.schema_name}.{v.view_name}".lower(), None)
            try:
                vschema = session._probe(key).schema
            except (DuckLakeError, AnalysisException):
                continue        # view over a dropped/renamed table
            for pos, f in enumerate(vschema.fields, start=1):
                try:
                    dtype = spark_to_ducklake_type(f.dataType)
                except UnsupportedType:
                    dtype = f.dataType.simpleString()
                rows.append((sch.schema_name, v.view_name, None, f.name,
                             dtype, True, dtype, "YES", pos))


def views_df(session) -> DataFrame:
    """information_schema.views: live catalog views at the snapshot."""
    snap = session.catalog.snapshot_id
    rows = []
    for sch in session.provider.list_schemas(snap):
        for v in session.provider.list_views(sch.schema_id, snap):
            rows.append((sch.schema_name, v.view_name, v.sql, v.dialect))
    return local_df(session.spark, rows,
                    "schema_name STRING, table_name STRING, view_definition "
                    "STRING, dialect STRING")


def files_df(session, table: str = None,
             snapshot_version: int = None) -> DataFrame:
    """``table``/``snapshot_version`` mirror ducklake_list_files'
    optional arguments (sql/list_files/ducklake_list_files.test:
    table + schema => + snapshot_version =>): restrict to one table
    and/or list the files AS OF an earlier snapshot."""
    snap = session.catalog.snapshot_id
    if snapshot_version is not None:
        if not session.provider.snapshot_exists(int(snapshot_version)):
            raise InvalidConfig(
                f"No snapshot found at version {snapshot_version}")
        snap = int(snapshot_version)
    want = None
    if table is not None:
        want = session._split(table)
        live = {(s, t.table_name)
                for s, t in session.provider.list_all_tables(snap)}
        if want not in live:
            raise InvalidConfig(
                f"Table {table!r} does not exist at snapshot {snap}")
    rows = []
    for schema_name, table_name, f in session.provider.list_all_files(snap):
        if want is not None and (schema_name, table_name) != want:
            continue
        d = f.delete_file
        rows.append((schema_name, table_name, f.data_file_id, f.path,
                     f.path_is_relative, f.file_size_bytes, f.footer_size,
                     f.record_count,
                     d.delete_file_id if d else None,
                     d.path if d else None,
                     d.file_size_bytes if d else None,
                     d.delete_count if d else None))
    return local_df(session.spark, rows,
                    "schema_name STRING, table_name STRING, "
                    "data_file_id BIGINT, data_file_path STRING, "
                    "path_is_relative BOOLEAN, file_size_bytes BIGINT, "
                    "footer_size BIGINT, record_count BIGINT, "
                    "delete_file_id BIGINT, delete_file_path STRING, "
                    "delete_file_size_bytes BIGINT, delete_count BIGINT")


def list_files_df(session) -> DataFrame:
    """ducklake_list_files(): the files view's DuckDB column set, with
    the footer-size hint as ``data_file_footer_size``
    (sql/add_files/add_file_footer_size.test)."""
    return files_df(session).select(
        "schema_name", "table_name", "data_file_path", "file_size_bytes",
        "record_count", "delete_file_path", "delete_count",
        F.col("footer_size").alias("data_file_footer_size"))


def table_info_df(session) -> DataFrame:
    """Per-table aggregates: file_count, file_size_bytes,
    delete_file_count, delete_file_size_bytes
    (ref: information_schema.rs:469-539)."""
    snap = session.catalog.snapshot_id
    agg: dict[tuple[str, str], list[int]] = {}
    ids: dict[tuple[str, str], int] = {}
    for schema_name, t in session.provider.list_all_tables(snap):
        agg[(schema_name, t.table_name)] = [0, 0, 0, 0]
        ids[(schema_name, t.table_name)] = t.table_id
    for schema_name, table_name, f in session.provider.list_all_files(snap):
        a = agg.setdefault((schema_name, table_name), [0, 0, 0, 0])
        a[0] += 1
        a[1] += f.file_size_bytes
        if f.delete_file is not None:
            a[2] += 1
            a[3] += f.delete_file.file_size_bytes
    rows = [(s, t, ids.get((s, t)), a[0], a[1], a[2], a[3])
            for (s, t), a in sorted(agg.items())]
    return local_df(session.spark, rows,
                    "schema_name STRING, table_name STRING, table_id BIGINT, "
                    "file_count BIGINT, file_size_bytes BIGINT, "
                    "delete_file_count BIGINT, delete_file_size_bytes BIGINT")


def _only(session, rows, name):
    if name is None:
        return rows
    want = session._split(name)
    return [r for r in rows if (r[0], r[1]) == want]


def clustering_df(session, name: str = None) -> DataFrame:
    """Staleness surface for catalog-clustered layouts
    (information_schema.clustering, ducklake_clustering_info(),
    ``DuckLakeSession.clustering_status``). One row per clustering entry
    — primary spec and each replica family — with the same catalog-level
    currency flag the read-path gate applies
    (operators/layout.clustering_status_rows). ``name`` filters to one
    table. Beyond reference: the single-node reference keeps no layout
    metadata."""
    from .layout import clustering_status_rows
    rows = list(clustering_status_rows(session.provider,
                                       session.catalog.snapshot_id))
    return local_df(session.spark, _only(session, rows, name),
                    "schema_name STRING, table_name STRING, kind STRING, "
                    "cluster_key STRING, buckets BIGINT, n_files BIGINT, "
                    "directory STRING, current BOOLEAN")


def materialized_views_df(session, name: str = None) -> DataFrame:
    """Staleness surface for materialized views
    (information_schema.materialized_views, ducklake_matview_info(),
    ``DuckLakeSession.matview_status``), built from the provider-only
    row builder (operators/matview.matview_status_rows) so the view and
    the refresh path cannot disagree. Beyond reference: the reference
    has plain views only."""
    from .matview import matview_status_rows
    rows = list(matview_status_rows(session.provider,
                                    session.catalog.snapshot_id))
    return local_df(session.spark, _only(session, rows, name),
                    "schema_name STRING, table_name STRING, "
                    "source_table STRING, incremental BOOLEAN, "
                    "last_snapshot BIGINT, current_snapshot BIGINT, "
                    "current BOOLEAN")


def current_snapshot_df(session) -> DataFrame:
    """The session's pinned snapshot
    (sql/snapshot_info/ducklake_current_commit.test)."""
    return local_df(session.spark, [(session.catalog.snapshot_id,)],
                    "snapshot_id BIGINT")


def last_committed_snapshot_df(session) -> DataFrame:
    """The latest snapshot committed to the catalog DB, which may be
    ahead of the session's pin (ducklake_last_commit.test)."""
    return local_df(session.spark,
                    [(session.provider.get_current_snapshot(),)],
                    "snapshot_id BIGINT")


def database_size_df(session) -> DataFrame:
    """PRAGMA database_size parity (sql/general/database_size.test):
    live data+delete bytes at the pinned snapshot, plus the catalog DB's
    own on-disk size."""
    total = n = 0
    for _s, _t, f in session.provider.list_all_files(
            session.catalog.snapshot_id):
        total += f.file_size_bytes or 0
        n += 1
        if f.delete_file is not None:
            total += f.delete_file.file_size_bytes or 0
    path = session.catalog_path
    meta = os.path.getsize(path) if os.path.isfile(path) else 0
    return local_df(session.spark, [(total, meta, n)],
                    "data_size_bytes BIGINT, metadata_size_bytes BIGINT, "
                    "file_count BIGINT")


def options_df(session) -> DataFrame:
    """ducklake.options() parity (sql/settings/per_table_settings.test
    tail): one row per persisted option with its scope — GLOBAL
    (scope_entry NULL), SCHEMA (schema name), TABLE (qualified
    schema.table name). Internal bootstrap keys (data_path etc.) are
    options too, matching the catalog's ducklake_metadata rows."""
    p, snap = session.provider, session.catalog.snapshot_id
    entries = {}
    for s in p.list_schemas(snap):
        entries[("schema", s.schema_id)] = s.schema_name
        for t in p.list_tables(s.schema_id, snap):
            entries[("table", t.table_id)] = f"{s.schema_name}.{t.table_name}"
    rows = [(key, value, scope.upper(), entries.get((scope, scope_id)))
            if scope in ("schema", "table") else (key, value, "GLOBAL", None)
            for key, value, scope, scope_id in p.list_options()]
    return local_df(session.spark, rows,
                    "option_name STRING, value STRING, scope STRING, "
                    "scope_entry STRING")


def file_column_stats_df(session) -> DataFrame:
    """Raw per-file column stats incl. extra_stats (geo corpus:
    sql/geo/ducklake_geometry.test:30-44)."""
    return local_df(session.spark,
                    session.provider.get_raw_file_column_stats(),
                    "data_file_id BIGINT, table_id BIGINT, "
                    "column_id BIGINT, column_size_bytes BIGINT, "
                    "value_count BIGINT, null_count BIGINT, "
                    "min_value STRING, max_value STRING, "
                    "contains_nan BOOLEAN, extra_stats STRING")


def table_column_stats_df(session) -> DataFrame:
    return local_df(session.spark,
                    session.provider.get_raw_table_column_stats(),
                    "table_id BIGINT, column_id BIGINT, "
                    "contains_null BOOLEAN, contains_nan BOOLEAN, "
                    "min_value STRING, max_value STRING, "
                    "extra_stats STRING")


def metadata_table_df(session, name: str) -> DataFrame:
    """One metadata-catalog table as a DataFrame (upstream exposes the
    metadata DB as an attached catalog — e.g. FROM
    __ducklake_metadata_ducklake.ducklake_macro). Catalog tables are
    metadata-sized by design. Types: ints surface as BIGINT, floats as
    DOUBLE, everything else as STRING."""
    cols = (session.provider.get_catalog_table_columns(name)
            if re.fullmatch(r"ducklake_[a-z0-9_]+", name) else None)
    if not cols:
        raise InvalidConfig(f"not a metadata catalog table: {name!r}")
    rows = session.provider._fetchall(
        "SELECT " + ", ".join(f'"{c}"' for c in cols) + f' FROM "{name}"')
    fields = []
    for i, c in enumerate(cols):
        vals = [r[i] for r in rows if r[i] is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            dt = T.BooleanType()
        elif vals and all(isinstance(v, int) and not isinstance(v, bool)
                          for v in vals):
            dt = T.LongType()
        elif vals and all(isinstance(v, (int, float))
                          and not isinstance(v, bool) for v in vals):
            dt = T.DoubleType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(c, dt, True))
    return local_df(session.spark, rows, T.StructType(fields))


# SQL name → builder(session, *constant_args)
RELATIONS = {
    "information_schema.snapshots": snapshots_df,
    "information_schema.schemata": schemata_df,
    "information_schema.tables": tables_df,
    "information_schema.table_info": table_info_df,
    "information_schema.columns": columns_df,
    "information_schema.views": views_df,
    "information_schema.files": files_df,
    "information_schema.clustering": clustering_df,
    "information_schema.materialized_views": materialized_views_df,
    "ducklake_snapshots": ducklake_snapshots_df,
    "ducklake_table_info": table_info_df,
    "ducklake_list_files": list_files_df,
    "ducklake_clustering_info": clustering_df,
    "ducklake_matview_info": materialized_views_df,
    "ducklake_current_snapshot": current_snapshot_df,
    "ducklake_last_committed_snapshot": last_committed_snapshot_df,
    "ducklake_database_size": database_size_df,
    "ducklake_options": options_df,
    "ducklake_file_column_stats": file_column_stats_df,
    "ducklake_table_column_stats": table_column_stats_df,
    # SQL-callable CDC (table_functions.rs:86-225): the same vectorized
    # DataFrame the Python API plans — no row-yielding function in the
    # data path
    "ducklake_table_changes": lambda s, *a: s.table_changes(*a),
    "ducklake_table_deletions": lambda s, *a: s.table_deletions(*a),
    "ducklake_table_insertions": lambda s, *a: s.table_insertions(*a),
}


def relation(session, name: str, args: tuple = ()) -> DataFrame:
    """The DataFrame a SQL relation name stands for, at the session's
    pinned snapshot. ``ducklake_metadata.<table>`` passes through to the
    catalog DB's own tables."""
    name = name.lower()
    if name.startswith("ducklake_metadata."):
        return metadata_table_df(session, name.split(".", 1)[1])
    if name not in RELATIONS:
        raise TableNotFound(name)
    return RELATIONS[name](session, *args)
