"""CDC table functions: ducklake_table_changes / ducklake_table_deletions.

Reference parity (SURVEY.md §2A A11-A12, §3.3):
- table_changes (src/table_functions.rs:86-225 + src/table_changes.rs):
  per data file added in (start, end], scan it and append constant
  ``snapshot_id`` (the file's begin_snapshot) and ``change_type='insert'``
  columns.
- table_deletions (src/table_functions.rs:227-367 + src/table_deletions.rs):
  for each delete file added in (start, end] (or data file fully removed),
  emit only the NEWLY deleted rows: current positions (synthesized
  0..record_count for a whole-file delete; table_deletions.rs:498-513)
  minus the superseded previous delete file's positions, semi-joined back
  onto the data file, with ``change_type='delete'``.

Spark-first: both sides read through the one shared scan
(sources/scan.scan_table with its virtual columns), so field-id and
name-mapped files, PME encryption and the rowid rule are the table
read's own. Inserts: ONE scan over every file added in the window.
Deletions: each delta's newly deleted positions are one bitset
difference on the driver (current delete vector AND NOT the superseded
one, both cached per delete file — sources/scan.deletion_vector); a
delete snapshot's data files share one scan, and a codegen'd bit test
on the virtual filename / file_row_number keeps the deleted rows inside
the scan stage: no join and no extra job per delta, in place of the
reference's 3-phase stream machine. Plan size is O(delete snapshots),
not O(files). Inlined rows come from one provider read
(get_inlined_changes) on either side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import CatalogCorruption, InvalidConfig, TableNotFound
from ..paths import to_spark_uri
from ..sources.scan import (FILE_COL, POS_COL, ResolvedFile, bitset_filter,
                            deletion_vector, positions_bitset, scan_table)

CDC_SNAPSHOT_COL = "snapshot_id"
CDC_CHANGE_COL = "change_type"


def _resolve(session, name: str, start: int, end: int):
    if start > end:
        raise InvalidConfig(
            f"start_snapshot ({start}) must be <= end_snapshot ({end})")
    schema_name, table_name = session._split(name)
    catalog = session.catalog
    if end < catalog.snapshot_id:
        # DuckDB's table_changes resolves the table AT the range's end
        # snapshot: a window that closes before an ALTER must surface
        # that era's schema, not today's (columns version per snapshot)
        from ..catalog import DuckLakeCatalog
        catalog = DuckLakeCatalog(session.spark, session.provider, end)
    schema = catalog.schema(schema_name)
    table = schema.table(table_name)
    if table is None:
        raise TableNotFound(name)
    return table


def table_changes(session, name: str, start: int, end: int) -> DataFrame:
    """The FULL change feed in snapshot range (start, end] — the
    upstream ducklake table_changes surface: inserts (parquet files AND
    inlined rows), deletions, and UPDATE image pairs. A row whose rowid
    appears on BOTH sides of one snapshot is an update (rowids are
    stable through UPDATE — sql/rowid/ducklake_row_id_update.test):
    its delete half reads ``update_preimage`` and its insert half
    ``update_postimage``; unpaired rows stay insert/delete. The pairing
    is a distributed (snapshot_id, rowid) self-join over the bounded
    change set — no driver materialization."""
    inserts = _inserted_rows(session, name, start, end)
    dels = table_deletions(session, name, start, end)
    pair_keys = (inserts.filter(F.col("rowid").isNotNull())
                 .select(CDC_SNAPSHOT_COL, "rowid")
                 .intersect(dels.filter(F.col("rowid").isNotNull())
                            .select(CDC_SNAPSHOT_COL, "rowid")))
    mark = pair_keys.withColumn("__upd", F.lit(True))

    def classify(df: DataFrame, paired_label: str) -> DataFrame:
        return (df.join(F.broadcast(mark), [CDC_SNAPSHOT_COL, "rowid"],
                        "left")
                .withColumn(CDC_CHANGE_COL,
                            F.when(F.col("__upd").isNotNull(),
                                   F.lit(paired_label))
                            .otherwise(F.col(CDC_CHANGE_COL)))
                .drop("__upd"))

    # broadcast is safe: pair keys are bounded by rows UPDATED in the
    # window; a giant backfill window can disable via AQE (the join
    # degrades to shuffle when the build side exceeds the threshold —
    # broadcast() is a hint, not a hard requirement)
    return (classify(inserts, "update_postimage")
            .unionByName(classify(dels, "update_preimage")))


def table_insertions(session, name: str, start: int, end: int) -> DataFrame:
    """``ducklake_table_insertions`` (ref table_functions.rs insertions
    surface; corpus: table_changes/ducklake_table_insertions.test): ONLY
    the rows ADDED in the window — parquet files, inlined rows, and
    UPDATE postimages as plain rows — without change-type
    classification and without the delete feed. Output: data columns +
    rowid + snapshot_id. Window is (start, end] exclusive-start, this
    engine's CDC convention (upstream's SQL surface is
    inclusive-start; the slt ports shift the lower bound by one)."""
    return _inserted_rows(session, name, start, end).drop(CDC_CHANGE_COL)


def resolve_cdc_bound(session, value, lower: bool) -> int:
    """A CDC window bound may be a snapshot id OR a point in time
    (upstream table_changes accepts DATE/TIMESTAMP bounds —
    table_changes/ducklake_lower_timestamp.test, issue #330). Times
    resolve against the snapshot log: the lower bound becomes the
    newest snapshot STRICTLY BEFORE the time (so snapshots committed at
    or after it are inside the exclusive-start window), the upper bound
    the newest snapshot AT-OR-BEFORE it."""
    import datetime
    if isinstance(value, bool):
        raise InvalidConfig(f"invalid CDC snapshot bound: {value!r}")
    if isinstance(value, int):
        return value
    if isinstance(value, datetime.date) and \
            not isinstance(value, datetime.datetime):
        value = datetime.datetime.combine(value, datetime.time.min)
    if isinstance(value, datetime.datetime):
        value = value.isoformat(sep=" ")
    if not isinstance(value, str):
        raise InvalidConfig(f"invalid CDC snapshot bound: {value!r}")
    ts = value.strip()
    if lower:
        sid = session.provider.get_snapshot_before_timestamp(ts)
        return 0 if sid is None else sid
    sid = session.provider.get_snapshot_at_timestamp(ts)
    if sid is None:
        raise InvalidConfig(
            f"no snapshot at or before timestamp {ts!r}")
    return sid


def _inserted_rows(session, name: str, start: int, end: int) -> DataFrame:
    """Rows inserted in snapshot range (start, end] — parquet files AND
    inlined rows (write-side data inlining registers no data file, so
    the CDC log must read the inlined tables' begin_snapshot too).

    Every added file rides ONE shared scan (field-id vs name-mapped
    groups, encryption and the rowid rule are scan_table's). Its virtual
    ``snapshot_id`` is the file's begin_snapshot: the only writer of the
    in-file snapshot column is the flush, whose snapshots CDC skips."""
    table = _resolve(session, name, start, end)
    skip = _maintenance_snapshots(session, table, start, end)
    files = [_data_file(session, table, f.path, f.path_is_relative,
                        encryption_key=f.encryption_key,
                        mapping_id=f.mapping_id,
                        row_id_start=f.row_id_start,
                        begin_snapshot=f.begin_snapshot)
             for f in session.provider.get_data_files_added_between(
                 table.meta.table_id, start, end)
             if f.begin_snapshot not in skip]
    parts = []
    if files:
        parts.append(_scan_changes(session.spark, table, files)
                     .drop(FILE_COL, POS_COL)
                     .withColumnsRenamed({"__snapshot": CDC_SNAPSHOT_COL})
                     .withColumn(CDC_CHANGE_COL, F.lit("insert")))
    inlined = _inlined_changes(session, table, start, end, "insert", skip)
    if inlined is not None:
        parts.append(inlined)
    if not parts:
        return _empty_cdc(session.spark, table.spark_schema)
    return reduce(DataFrame.unionByName, parts)


def labeled_snapshots(provider, table_id: int, after: int, upto: int,
                      *labels: str) -> set:
    """Snapshot ids in (after, upto] whose ``changes_made`` list holds
    ``<label>:<table_id>`` for one of ``labels``, read in one ranged
    statement. Token-exact, NOT substring: 'compacted_table:1' is a
    substring of 'compacted_table:12' and would false-positive on tables
    whose id is a prefix of another's."""
    markers = {f"{label}:{table_id}" for label in labels}
    return {sid for sid, s in
            provider.get_snapshot_changes(after, upto).items()
            if markers & {t.strip() for t in (s or "").split(",")}}


def _maintenance_snapshots(session, table, start: int, end: int) -> set:
    """Snapshot ids in (start, end] that are STORAGE maintenance for
    this table — file compaction (compact / merge_adjacent /
    rewrite_data_files, labeled compacted_table) and inlined-data
    flushes (labeled flushed_inlined_data): neither changes table
    contents, so CDC skips them on both the insert and the delete side
    (upstream table_changes is silent across compaction AND flush —
    sql/data_inlining/data_inlining_flush.test)."""
    return labeled_snapshots(session.provider, table.meta.table_id,
                             start, end,
                             "compacted_table", "flushed_inlined_data")


def _data_file(session, table, path: str, is_relative: bool,
               **kw) -> ResolvedFile:
    """A catalog data-file row as the shared scan reads it: resolved URI
    plus its name mapping (add_files renames / hive values)."""
    uri = to_spark_uri(session.catalog.resolver.file_path(
        table.table_path, path, is_relative))
    mapped_cols, hive_values = table.mapping_transform(
        kw.get("mapping_id"), uri)
    return ResolvedFile(uri, mapped_cols=mapped_cols,
                        hive_values=hive_values, **kw)


def _scan_changes(spark, table, files: list[ResolvedFile]) -> DataFrame:
    """``files`` through scan_table with the virtual columns, renamed by
    position (a user column may share a virtual column's name): ``rowid``,
    data-file URI (FILE_COL), file-local position (POS_COL),
    ``__file_index`` (dropped) and ``__snapshot``."""
    names = [f.name for f in table.spark_schema.fields]
    return (scan_table(spark, table.spark_schema, files, with_virtual=True)
            .toDF(*names, "rowid", FILE_COL, POS_COL, "__file_index",
                  "__snapshot")
            .drop("__file_index"))


def _inlined_changes(session, table, start: int, end: int, change: str,
                     skip: set):
    """Inlined rows inserted (``change='insert'``, by begin_snapshot) or
    ended by a DATA change (``'delete'``, by end_snapshot) in (start,
    end], shaped like the scanned parts. Rows of a maintenance snapshot
    (``skip``) are not changes: a flush ends inlined rows as storage
    migration and CDC stays silent across it
    (sql/data_inlining/data_inlining_flush.test). Bounded by the
    inlining row limit — driver-side materialization is the feature's
    own contract."""
    from ..catalog import inlined_frame
    names = [c.column_name for c in table.columns]
    rows = [r for it in table.inlined_tables
            for r in session.provider.get_inlined_changes(
                it, names, start, end, ended=change == "delete")
            if int(r[-1]) not in skip]
    if not rows:
        return None
    return (inlined_frame(session.spark, table.spark_schema, rows, True,
                          CDC_SNAPSHOT_COL)
            .withColumn(CDC_CHANGE_COL, F.lit(change)))


def table_deletions(session, name: str, start: int, end: int) -> DataFrame:
    """Rows deleted in snapshot range (start, end].

    Each delta's newly deleted positions are one bitset on the driver:
    the current delete vector (all rows for a whole-file delete) AND NOT
    the superseded one. A delete snapshot's data files ride ONE shared
    scan, filtered to those positions on the scan's data-file URI and
    file-local position, so plan size is O(delete snapshots)."""
    table = _resolve(session, name, start, end)
    spark = session.spark
    skip = _maintenance_snapshots(session, table, start, end)
    resolver = session.catalog.resolver

    def uri(path, is_relative):
        return to_spark_uri(resolver.file_path(table.table_path, path,
                                               is_relative))

    # snapshot → data-file URI → (file, newly deleted positions)
    by_snapshot: dict[int, dict[str, tuple]] = {}
    for d in session.provider.get_delete_files_added_between(
            table.meta.table_id, start, end):
        if d.snapshot_id in skip:
            continue
        rf = _data_file(session, table, d.data_path, d.data_path_is_relative,
                        encryption_key=d.encryption_key,
                        mapping_id=d.mapping_id, row_id_start=d.row_id_start)
        if d.cur_path is not None:
            cur = deletion_vector(
                spark, uri(d.cur_path, d.cur_path_is_relative),
                d.record_count, rf.data_uri, d.cur_encryption_key)
        elif d.record_count is None:
            raise InvalidConfig(
                f"whole-file delete without record_count for {d.data_path}")
        else:
            # whole-file delete: every position 0..record_count is deleted
            # (ref: table_deletions.rs:498-513)
            cur = ~positions_bitset((), d.record_count)
            if d.record_count % 64:
                cur[-1] = (1 << (d.record_count % 64)) - 1
        if d.prev_path is not None:
            cur = cur & ~deletion_vector(
                spark, uri(d.prev_path, d.prev_path_is_relative),
                d.record_count, rf.data_uri, d.prev_encryption_key)
        group = by_snapshot.setdefault(d.snapshot_id, {})
        if rf.data_uri in group:
            raise CatalogCorruption(
                f"snapshot {d.snapshot_id} deletes from data file "
                f"{rf.data_uri} twice")
        group[rf.data_uri] = (rf, cur)

    parts = []
    for snapshot_id, group in sorted(by_snapshot.items()):
        scanned = _scan_changes(spark, table,
                                [rf for rf, _ in group.values()])
        parts.append(
            bitset_filter(spark, scanned,
                          {u: words for u, (_, words) in group.items()},
                          keep_set=True, key=FILE_COL, pos=POS_COL)
            .drop(FILE_COL, POS_COL, "__snapshot")
            .withColumn(CDC_SNAPSHOT_COL, F.lit(snapshot_id).cast("long"))
            .withColumn(CDC_CHANGE_COL, F.lit("delete")))
    inlined = _inlined_changes(session, table, start, end, "delete", skip)
    if inlined is not None:
        parts.append(inlined)
    if not parts:
        return _empty_cdc(spark, table.spark_schema, change="delete")
    return reduce(DataFrame.unionByName, parts)


def _empty_cdc(spark, schema, change: str = "insert") -> DataFrame:
    from pyspark.sql import types as T
    full = T.StructType(list(schema.fields) + [
        T.StructField("rowid", T.LongType(), True),
        T.StructField(CDC_SNAPSHOT_COL, T.LongType(), False),
        T.StructField(CDC_CHANGE_COL, T.StringType(), False)])
    return spark.createDataFrame([], full)
