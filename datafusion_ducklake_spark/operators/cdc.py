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

Spark-first: each delta's newly deleted positions are one bitset
difference on the driver (current delete vector AND NOT the superseded
one, both cached per delete file — sources/scan.deletion_vector), and a
codegen'd bit test on _metadata.row_index selects the data file's rows
inside the scan stage: no join and no extra job per delta, in place of
the reference's 3-phase stream machine. Files added in the same snapshot
share one scan (constant columns allow grouping), so plan size is
O(snapshots), not O(files).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import InvalidConfig, TableNotFound
from ..paths import to_spark_uri
from ..sources.scan import (POS_COL, ResolvedFile, bitset_filter,
                            deletion_vector, positions_bitset,
                            read_file_with_pos, scan_table)

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
    the CDC log must read the inlined tables' begin_snapshot too)."""
    table = _resolve(session, name, start, end)
    spark = session.spark
    added = session.provider.get_data_files_added_between(
        table.meta.table_id, start, end)
    compacted = _compaction_snapshots(session, table)
    added = [f for f in added if f.begin_snapshot not in compacted]
    schema = table.spark_schema
    parts = []

    by_snapshot: dict[int, list[ResolvedFile]] = {}
    for f in added:
        uri = to_spark_uri(session.catalog.resolver.file_path(
            table.table_path, f.path, f.path_is_relative))
        mapped_cols, hive_values = table.mapping_transform(f.mapping_id, uri)
        by_snapshot.setdefault(f.begin_snapshot, []).append(ResolvedFile(
            uri, encryption_key=f.encryption_key, mapping_id=f.mapping_id,
            mapped_cols=mapped_cols, hive_values=hive_values,
            row_id_start=f.row_id_start))
    from ..sources.scan import file_has_rowid_column
    for snapshot_id, rfiles in sorted(by_snapshot.items()):
        # scan_table resolves field-id vs name-mapped groups (add_files
        # renames/hive injection) exactly like the live-table scan.
        # rowid rides along (ref table_functions.rs:86-225 emits it):
        # start+pos, or the in-file column of UPDATE-rewritten files;
        # catalogs predating row_id_start surface NULL rowids.
        have_rowid = all(rf.row_id_start is not None
                         or file_has_rowid_column(rf.data_uri)
                         for rf in rfiles)
        part = scan_table(spark, schema, rfiles, with_rowid=have_rowid)
        if not have_rowid:
            part = part.withColumn("rowid", F.lit(None).cast("long"))
        parts.append(
            part.withColumn(CDC_SNAPSHOT_COL, F.lit(snapshot_id).cast("long"))
            .withColumn(CDC_CHANGE_COL, F.lit("insert")))

    inlined = _inlined_changes(session, table, start, end)
    if inlined is not None:
        parts.append(inlined)
    if not parts:
        return _empty_cdc(spark, schema)
    return reduce(DataFrame.unionByName, parts)


def _compaction_snapshots(session, table) -> set:
    """Snapshot ids that are STORAGE maintenance for this table — file
    compaction (compact / merge_adjacent / rewrite_data_files, labeled
    compacted_table) and inlined-data flushes (labeled
    flushed_inlined_data): neither changes table contents, so CDC skips
    them on both the insert and the delete side (upstream table_changes
    is silent across compaction AND flush —
    sql/data_inlining/data_inlining_flush.test)."""
    markers = {f"compacted_table:{table.meta.table_id}",
               f"flushed_inlined_data:{table.meta.table_id}"}
    try:
        # token-exact compare, NOT substring: 'compacted_table:1' is a
        # substring of 'compacted_table:12' and would false-positive on
        # tables whose id is a prefix of another's
        return {sid for sid, s in
                session.provider.get_snapshot_changes().items()
                if markers & {t.strip() for t in (s or "").split(",")}}
    except Exception:
        return set()


def _inlined_changes(session, table, start: int, end: int):
    """Inlined rows whose begin_snapshot falls in (start, end], shaped
    like the parquet CDC branches. Bounded by the inlining row limit —
    driver-side materialization is the feature's own contract."""
    names = [c.column_name for c in table.columns]
    rows = []
    for it in table.inlined_tables:
        try:
            raw = session.provider._fetchall(
                'SELECT row_id, {} , begin_snapshot FROM "{}" '
                "WHERE begin_snapshot > ? AND begin_snapshot <= ?".format(
                    ", ".join(f'"{c}"' for c in names), it),
                (start, end))
        except Exception:
            continue
        rows.extend(raw)
    if not rows:
        return None
    import pyspark.sql.types as T
    coerced = []
    schema = table.spark_schema
    for r in rows:
        vals = []
        for v, f in zip(r[1:-1], schema.fields):
            vals.append(_coerce_cdc(v, f.dataType))
        coerced.append(tuple(vals) + (int(r[0]), int(r[-1]), "insert"))
    out_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("rowid", T.LongType(), True),
           T.StructField(CDC_SNAPSHOT_COL, T.LongType(), True),
           T.StructField(CDC_CHANGE_COL, T.StringType(), False)])
    return session.spark.createDataFrame(coerced, out_schema)


def _coerce_cdc(v, dt):
    import datetime
    import decimal

    import pyspark.sql.types as T
    if v is None:
        return None
    if isinstance(dt, T.TimestampType) and isinstance(v, str):
        return datetime.datetime.fromisoformat(v)
    if isinstance(dt, T.DateType) and isinstance(v, str):
        return datetime.date.fromisoformat(v)
    if isinstance(dt, T.DecimalType) and not isinstance(v, decimal.Decimal):
        return decimal.Decimal(str(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)) and isinstance(v, int):
        return float(v)
    if isinstance(dt, T.BooleanType) and isinstance(v, int):
        return bool(v)
    return v


def _inlined_deletions(session, table, start: int, end: int,
                       skip: set = frozenset()):
    """Inlined rows ENDED in (start, end] by a DATA change (inlined
    DELETE/UPDATE). Rows ended by a flush snapshot (``skip``) are NOT
    deletions — the flush is storage migration and CDC stays silent
    across it (sql/data_inlining/data_inlining_flush.test)."""
    names = [c.column_name for c in table.columns]
    rows = []
    for it in table.inlined_tables:
        try:
            raw = session.provider._fetchall(
                'SELECT row_id, {} , end_snapshot FROM "{}" '
                "WHERE end_snapshot > ? AND end_snapshot <= ?".format(
                    ", ".join(f'"{c}"' for c in names), it),
                (start, end))
        except Exception:
            continue
        rows.extend(r for r in raw if int(r[-1]) not in skip)
    if not rows:
        return None
    import pyspark.sql.types as T
    schema = table.spark_schema
    coerced = [tuple(_coerce_cdc(v, f.dataType)
                     for v, f in zip(r[1:-1], schema.fields))
               + (int(r[0]), int(r[-1]), "delete") for r in rows]
    out_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("rowid", T.LongType(), True),
           T.StructField(CDC_SNAPSHOT_COL, T.LongType(), True),
           T.StructField(CDC_CHANGE_COL, T.StringType(), False)])
    return session.spark.createDataFrame(coerced, out_schema)


def table_deletions(session, name: str, start: int, end: int) -> DataFrame:
    """Rows deleted in snapshot range (start, end]."""
    table = _resolve(session, name, start, end)
    spark = session.spark
    deltas = session.provider.get_delete_files_added_between(
        table.meta.table_id, start, end)
    compacted = _compaction_snapshots(session, table)
    deltas = [d for d in deltas if d.snapshot_id not in compacted]
    schema = table.spark_schema
    inlined = _inlined_deletions(session, table, start, end, skip=compacted)
    if not deltas:
        return inlined if inlined is not None \
            else _empty_cdc(spark, schema, change="delete")

    resolver = session.catalog.resolver
    parts = []
    for d in deltas:
        data_uri = to_spark_uri(resolver.file_path(
            table.table_path, d.data_path, d.data_path_is_relative))

        if d.cur_path is not None:
            cur = deletion_vector(spark, to_spark_uri(resolver.file_path(
                table.table_path, d.cur_path, d.cur_path_is_relative)),
                d.record_count, data_uri)
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
            cur = cur & ~deletion_vector(spark, to_spark_uri(
                resolver.file_path(table.table_path, d.prev_path,
                                   d.prev_path_is_relative)),
                d.record_count, data_uri)

        mapped_cols, hive_values = table.mapping_transform(
            d.mapping_id, data_uri)
        from ..sources.scan import ROWID_FILE_COL, file_has_rowid_column
        rid_in_file = d.row_id_start is None and d.mapping_id is None \
            and file_has_rowid_column(data_uri)
        read_schema = schema
        if rid_in_file:
            from pyspark.sql import types as T
            read_schema = T.StructType(
                list(schema.fields)
                + [T.StructField(ROWID_FILE_COL, T.LongType(), True)])
        data = read_file_with_pos(spark, read_schema, ResolvedFile(
            data_uri, mapping_id=d.mapping_id,
            mapped_cols=mapped_cols, hive_values=hive_values))
        if rid_in_file:
            rowid = F.col(ROWID_FILE_COL)
        elif d.row_id_start is not None:
            rowid = (F.lit(d.row_id_start) + F.col(POS_COL)).cast("long")
        else:
            rowid = F.lit(None).cast("long")
        part = (bitset_filter(spark, data, {None: cur}, keep_set=True)
                .withColumn("rowid", rowid)
                .drop(POS_COL))
        if rid_in_file:
            part = part.drop(ROWID_FILE_COL)
        parts.append(
            part
            .withColumn(CDC_SNAPSHOT_COL, F.lit(d.snapshot_id).cast("long"))
            .withColumn(CDC_CHANGE_COL, F.lit("delete")))
    if inlined is not None:
        parts.append(inlined)
    return reduce(DataFrame.unionByName, parts)


def _empty_cdc(spark, schema, change: str = "insert") -> DataFrame:
    from pyspark.sql import types as T
    full = T.StructType(list(schema.fields) + [
        T.StructField("rowid", T.LongType(), True),
        T.StructField(CDC_SNAPSHOT_COL, T.LongType(), False),
        T.StructField(CDC_CHANGE_COL, T.StringType(), False)])
    return spark.createDataFrame([], full)
