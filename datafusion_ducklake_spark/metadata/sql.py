"""The DuckLake catalog SQL surface.

These statements are the interoperability contract with DuckLake catalogs —
kept dialect-portable (qmark params, no backend-specific syntax) exactly as
the reference does (ref: src/metadata_provider.rs:3-4, the 15 query
constants at 5-264). MVCC visibility rule throughout: an entity is visible
at snapshot S iff ``S >= begin_snapshot AND (S < end_snapshot OR
end_snapshot IS NULL)``.

One deliberate deviation: the superseded-previous-delete lookup
(ref: SQL_GET_DELETE_FILES_ADDED_BETWEEN_SNAPSHOTS,
metadata_provider.rs:91-196) uses LEFT JOIN LATERAL, which SQLite lacks;
we use an equivalent NOT-EXISTS "latest earlier delete" join that runs
unchanged on SQLite and DuckDB.
"""

# The catalog's shape: one (table, column) row per column of every table
# in the catalog database, in column order — one statement per dialect,
# shared by the provider and the writer. The live backends scope it to
# the connection's own schema: a shared server may host a same-named
# table elsewhere whose columns must not leak in.
CATALOG_SHAPE_SQLITE = """
SELECT m.name, p.name FROM sqlite_master m, pragma_table_info(m.name) p
WHERE m.type = 'table' ORDER BY m.name, p.cid
"""
_INFO_SCHEMA_SHAPE = """
SELECT table_name, column_name FROM information_schema.columns
WHERE table_schema = {scope} ORDER BY table_name, ordinal_position
"""
CATALOG_SHAPE = {
    "sqlite": CATALOG_SHAPE_SQLITE,
    "duckdb": _INFO_SCHEMA_SHAPE.format(
        scope="current_schema() AND table_catalog = current_database()"),
    "postgres": _INFO_SCHEMA_SHAPE.format(scope="current_schema()"),
    "mysql": _INFO_SCHEMA_SHAPE.format(scope="DATABASE()"),
}

GET_LATEST_SNAPSHOT = "SELECT COALESCE(MAX(snapshot_id), 0) FROM ducklake_snapshot"

# The head snapshot and the highest snapshot id ever allocated: a ROLLBACK
# deletes visible snapshots and leaves a change row under a fresh id with
# no snapshot row, so the second column moves on every commit AND every
# rollback (metadata.writer.rollback_to_snapshot)
GET_HEAD = """
SELECT COALESCE(MAX(s.snapshot_id), 0),
       (SELECT MAX(c.snapshot_id) FROM ducklake_snapshot_changes c)
FROM ducklake_snapshot s
"""

# Snapshots and change rows with ids in (?, ?], one row each: (id, NULL)
# per snapshot, (id, changes_made) per change row
SNAPSHOT_CHANGES_BETWEEN = """
SELECT s.snapshot_id, NULL FROM ducklake_snapshot s
WHERE s.snapshot_id > ? AND s.snapshot_id <= ?
UNION ALL
SELECT c.snapshot_id, c.changes_made FROM ducklake_snapshot_changes c
WHERE c.snapshot_id > ? AND c.snapshot_id <= ?
"""

# {alias.column} slots name columns that older catalog generations lack;
# the provider reads them as NULL there (MetadataProvider._read)
LIST_SNAPSHOTS = """
SELECT s.snapshot_id, CAST(s.snapshot_time AS VARCHAR) AS snapshot_time,
       {s.author}, {s.commit_message}
FROM ducklake_snapshot s ORDER BY s.snapshot_id
"""

_VISIBLE = "? >= {t}.begin_snapshot AND (? < {t}.end_snapshot OR {t}.end_snapshot IS NULL)"

LIST_SCHEMAS = f"""
SELECT s.schema_id, s.schema_name, s.path, s.path_is_relative
FROM ducklake_schema s
WHERE {_VISIBLE.format(t='s')}
"""

LIST_TABLES = f"""
SELECT t.table_id, t.table_name, t.path, t.path_is_relative
FROM ducklake_table t
WHERE t.schema_id = ? AND {_VISIBLE.format(t='t')}
"""

GET_SCHEMA_BY_NAME = f"""
SELECT s.schema_id, s.schema_name, s.path, s.path_is_relative
FROM ducklake_schema s
WHERE s.schema_name = ? AND {_VISIBLE.format(t='s')}
"""

GET_TABLE_BY_NAME = f"""
SELECT t.table_id, t.table_name, t.path, t.path_is_relative
FROM ducklake_table t
WHERE t.schema_id = ? AND t.table_name = ? AND {_VISIBLE.format(t='t')}
"""

TABLE_EXISTS = f"""
SELECT EXISTS(
  SELECT 1 FROM ducklake_table t
  WHERE t.schema_id = ? AND t.table_name = ? AND {_VISIBLE.format(t='t')})
"""

LIST_VIEWS = f"""
SELECT v.view_id, v.view_name, v.dialect, v.sql
FROM ducklake_view v
WHERE v.schema_id = ? AND {_VISIBLE.format(t='v')}
ORDER BY v.view_id
"""

GET_TABLE_COLUMNS = f"""
SELECT c.column_id, c.column_name, c.column_type, c.nulls_allowed, c.parent_column,
       {{c.initial_default}}, {{c.default_value}}, c.begin_snapshot
FROM ducklake_column c
WHERE c.table_id = ? AND {_VISIBLE.format(t='c')}
ORDER BY c.column_order
"""
# Deliberate improvement over the reference, which reads only the CURRENT
# columns (end_snapshot IS NULL — metadata_provider.rs SQL_GET_TABLE_COLUMNS):
# our writer versions columns per snapshot, so a time-travel session after
# schema evolution must see the snapshot's schema, not today's.

GET_DATA_FILES = f"""
SELECT
  data.data_file_id, data.path, data.path_is_relative,
  data.file_size_bytes, data.footer_size, data.encryption_key,
  data.record_count, data.row_id_start, data.mapping_id,
  del.delete_file_id, del.path, del.path_is_relative,
  del.file_size_bytes, del.footer_size, del.encryption_key, del.delete_count,
  data.begin_snapshot
FROM ducklake_data_file AS data
LEFT JOIN ducklake_delete_file AS del
  ON data.data_file_id = del.data_file_id
  AND del.table_id = ?
  AND {_VISIBLE.format(t='del')}
WHERE data.table_id = ? AND {_VISIBLE.format(t='data')}
"""

# every setting at every scope, in one read (pre-scope catalogs: global)
LIST_SETTINGS = """
SELECT m.key, m.value, {m.scope}, {m.scope_id} FROM ducklake_metadata m
"""

# Per-file column stats for catalog-level file pruning — the reference
# leaves this as TODO (metadata_provider.rs:569); real DuckLake catalogs
# populate ducklake_file_column_stats on every write.
GET_FILE_COLUMN_STATS = f"""
SELECT s.data_file_id, s.column_id, s.null_count, s.min_value, s.max_value
FROM ducklake_file_column_stats s
JOIN ducklake_data_file data ON s.data_file_id = data.data_file_id
WHERE s.table_id = ? AND {_VISIBLE.format(t='data')}
"""

DATA_FILES_ADDED_BETWEEN = """
SELECT data.begin_snapshot, data.path, data.path_is_relative,
       data.file_size_bytes, data.footer_size, data.encryption_key,
       data.record_count, data.mapping_id, data.row_id_start
FROM ducklake_data_file AS data
WHERE data.table_id = ? AND data.begin_snapshot > ? AND data.begin_snapshot <= ?
ORDER BY data.begin_snapshot
"""

# Delete-file deltas in (start, finish]: for each delete file added in range
# (or data file removed in range — a whole-file delete), pair it with the
# previous delete file for the same data file, so the consumer can emit only
# newly-deleted positions. Portable rewrite of the reference's LATERAL query.
DELETE_FILES_ADDED_BETWEEN = """
SELECT
  data.path, data.path_is_relative, data.record_count,
  cd.path AS cur_path, cd.path_is_relative AS cur_rel,
  pd.path AS prev_path, pd.path_is_relative AS prev_rel,
  cd.begin_snapshot AS snapshot_id, data.mapping_id, data.row_id_start,
  data.encryption_key, cd.encryption_key AS cur_key,
  pd.encryption_key AS prev_key
FROM ducklake_delete_file cd
JOIN ducklake_data_file data ON data.data_file_id = cd.data_file_id
LEFT JOIN ducklake_delete_file pd
  ON pd.data_file_id = cd.data_file_id
  AND pd.begin_snapshot < cd.begin_snapshot
  AND NOT EXISTS (
    SELECT 1 FROM ducklake_delete_file x
    WHERE x.data_file_id = cd.data_file_id
      AND x.begin_snapshot < cd.begin_snapshot
      AND x.begin_snapshot > pd.begin_snapshot)
WHERE cd.table_id = ? AND cd.begin_snapshot > ? AND cd.begin_snapshot <= ?

UNION ALL

SELECT
  data.path, data.path_is_relative, data.record_count,
  NULL, NULL,
  pd.path, pd.path_is_relative,
  data.end_snapshot AS snapshot_id, data.mapping_id, data.row_id_start,
  data.encryption_key, NULL,
  pd.encryption_key
FROM ducklake_data_file data
LEFT JOIN ducklake_delete_file pd
  ON pd.data_file_id = data.data_file_id
  AND pd.begin_snapshot < data.end_snapshot
  AND NOT EXISTS (
    SELECT 1 FROM ducklake_delete_file x
    WHERE x.data_file_id = data.data_file_id
      AND x.begin_snapshot < data.end_snapshot
      AND x.begin_snapshot > pd.begin_snapshot)
WHERE data.table_id = ? AND data.end_snapshot > ? AND data.end_snapshot <= ?
"""

# Bulk queries for information_schema (avoid N+1; ref: metadata_provider.rs:200-264)

LIST_ALL_TABLES = f"""
SELECT s.schema_name, t.table_id, t.table_name, t.path, t.path_is_relative
FROM ducklake_schema s
JOIN ducklake_table t ON s.schema_id = t.schema_id
WHERE {_VISIBLE.format(t='s')} AND {_VISIBLE.format(t='t')}
ORDER BY s.schema_name, t.table_name
"""

LIST_ALL_COLUMNS = f"""
SELECT s.schema_name, t.table_name, c.column_id, c.column_name,
       c.column_type, c.nulls_allowed, c.parent_column
FROM ducklake_schema s
JOIN ducklake_table t ON s.schema_id = t.schema_id
JOIN ducklake_column c ON t.table_id = c.table_id
WHERE {_VISIBLE.format(t='s')} AND {_VISIBLE.format(t='t')}
  AND {_VISIBLE.format(t='c')}
ORDER BY s.schema_name, t.table_name, c.column_order
"""

LIST_ALL_FILES = f"""
SELECT s.schema_name, t.table_name,
  data.data_file_id, data.path, data.path_is_relative,
  data.file_size_bytes, data.footer_size, data.encryption_key,
  data.record_count, data.row_id_start, data.mapping_id,
  del.delete_file_id, del.path, del.path_is_relative,
  del.file_size_bytes, del.footer_size, del.encryption_key, del.delete_count
FROM ducklake_schema s
JOIN ducklake_table t ON s.schema_id = t.schema_id
JOIN ducklake_data_file data ON t.table_id = data.table_id
LEFT JOIN ducklake_delete_file del
  ON data.data_file_id = del.data_file_id
  AND del.table_id = t.table_id
  AND {_VISIBLE.format(t='del')}
WHERE {_VISIBLE.format(t='s')} AND {_VISIBLE.format(t='t')}
  AND {_VISIBLE.format(t='data')}
ORDER BY s.schema_name, t.table_name, data.path
"""
