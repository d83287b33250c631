"""Snapshot-consistent multi-file Parquet scan with merge-on-read deletes
and field-id column renames.

Reference parity (SURVEY.md §2A A1-A6):
- DuckLakeTable::scan (src/table.rs:600-653): split live files into
  clean (no delete file — one grouped scan) vs dirty (per-file delete
  filtering), union, EmptyExec for zero files.
- DeleteFilterExec (src/delete_filter.rs:21-203): drop rows whose file-local
  position appears in the positional-delete file.
- ColumnRenameExec (src/column_rename.rs) + field-id mapping
  (src/types.rs:438-498): rename-by-field-id so catalog renames don't
  rewrite files.

Spark-first design:
- Deletes become a bitset test on ``_metadata.row_index`` (file-local
  physical row position, stable across row-group splits). Like the
  reference's planning-thread position set (table.rs:302-363), each
  delete file is read ONCE on the driver into an LRU-cached int64 bitset
  (``record_count/64`` words) by ``deletion_vector``, the only reader of
  delete files for scans, the change feed and DML.
- Clean and dirty files go through ONE ``spark.read.parquet(*paths)`` so
  Spark gets file-level parallelism and partition coalescing in a single
  source node; one filter looks each row's file up in one map literal
  (file key → words) and tests its bit (``bitset_filter``) — the plan of
  a clean table plus a filter whose expression size does not grow with
  the number of dirty files: no join, no exchange, no extra job.
- rowid and the virtual columns (filename, file_row_number, file_index,
  snapshot_id) ride the same scan: per-file catalog values are map
  literals looked up by ``_metadata.file_name``, the position is
  ``_metadata.row_index``. This one scan is every reader's row source —
  plain reads, DML matching (operators/dml.py), compaction,
  merge-adjacent and the change feed (operators/cdc.py reads inserted
  files, and deleted rows through ``bitset_filter(keep_set=True)`` on
  the virtual ``filename`` / ``file_row_number``) — so one delete filter,
  one rowid rule and one file key serve them all; this module is the
  only reader of ``row_index``.
- Renames: Spark's native field-id resolution
  (spark.sql.parquet.fieldId.read.enabled) keyed by the catalog column_id
  stamped into the read schema's ``parquet.field.id`` metadata; files
  without field ids fall back to name matching.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import CatalogCorruption

# Hive-mapped files: at or below this many distinct partition-value
# tuples (per mapping shape) the values stamp as per-branch literals
# (exact types, percent-unescaped); above it, one scan derives them from
# _metadata.file_path via regexp — O(1) plan nodes in partition count.
MAX_HIVE_VALUE_BRANCHES = 32

POS_COL = "__ducklake_pos"
PATH_COL = "__ducklake_path"
FILE_COL = "__ducklake_file"

# Explicit per-row id column inside a data file (DuckLake: a data file
# registered with row_id_start NULL carries its row ids as a column —
# how UPDATE keeps rowids stable; corpus: sql/rowid/
# ducklake_row_id_update.test). Reserved name, never a user column
# (metadata/writer.validate_name rejects the prefix).
ROWID_FILE_COL = "_ducklake_row_id"

# Per-row insertion-snapshot column inside a data file: written by
# flush_inlined_data and by compaction so rows keep their ORIGINAL
# snapshot_id through the storage change (upstream corpus:
# sql/data_inlining/data_inlining_flush.test asserts rowid AND
# snapshot_id survive the flush). Same reserved-prefix convention as
# ROWID_FILE_COL; only consulted by the virtual-column scan.
SNAPSHOT_FILE_COL = "_ducklake_snapshot_id"


def _with_path(df: DataFrame) -> DataFrame:
    return df.withColumn(PATH_COL, F.col("_metadata.file_path"))


@dataclass(frozen=True)
class ResolvedFile:
    """A live data file with its (optional) positional-delete file, both
    fully resolved to Spark-readable URIs."""
    data_uri: str
    delete_uri: Optional[str] = None
    record_count: Optional[int] = None
    encryption_key: Optional[str] = None       # PME footer key (stored form)
    delete_encryption_key: Optional[str] = None
    row_id_start: Optional[int] = None         # base for the virtual rowid
    mapping_id: Optional[int] = None           # non-NULL ⇒ name-mapped file
    begin_snapshot: Optional[int] = None       # registration snapshot
    # Non-trivial name mapping (DuckLake add_files contract, corpus:
    # sql/add_files/): mapped_cols = ((in_file_name, live_name), ...) —
    # the in-file columns to read and what they are called NOW;
    # hive_values = ((live_name, source_name, value_str), ...) —
    # partition columns NOT stored in the file, injected from its path's
    # ``source_name=value`` segments (value resolved driver-side; the
    # many-partition scan path re-derives it row-side from
    # _metadata.file_path). Live columns covered by neither read NULL.
    mapped_cols: Optional[tuple] = None
    hive_values: Optional[tuple] = None


def _configure_fieldid_read(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    # A file without field ids under a field-id schema should fall back to
    # name matching rather than produce all-null columns.
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    # DuckLake TIME columns map to Spark 4's TimeType (types.py), which
    # is feature-flagged; enable it wherever a scan might read one.
    spark.conf.set("spark.sql.timeType.enabled", "true")


def _strip_nested_metadata(dt: T.DataType) -> T.DataType:
    """Remove parquet.field.id metadata from nested struct fields."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strip_nested_metadata(f.dataType),
                          f.nullable,
                          metadata={k: v for k, v in (f.metadata or {}).items()
                                    if k != "parquet.field.id"})
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_nested_metadata(dt.elementType),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_strip_nested_metadata(dt.keyType),
                         _strip_nested_metadata(dt.valueType),
                         dt.valueContainsNull)
    return dt


def _strip_field_ids(schema: T.StructType,
                     keep_top: bool = False) -> T.StructType:
    """Drop field-id metadata: ALL of it — the read schema for files
    resolved by name — or, with ``keep_top``, only the nested ids — the
    read schema for files written before nested-id stamping (their
    structs resolve by name; a nested-id request over them would NULL out
    every field)."""
    return T.StructType([
        T.StructField(f.name, _strip_nested_metadata(f.dataType), f.nullable,
                      metadata=f.metadata if keep_top else {
                          k: v for k, v in (f.metadata or {}).items()
                          if k != "parquet.field.id"})
        for f in schema.fields])


def _schema_has_nested_ids(schema: T.StructType) -> bool:
    def walk(dt: T.DataType) -> bool:
        if isinstance(dt, T.StructType):
            return any("parquet.field.id" in (f.metadata or {})
                       or walk(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, T.MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False
    return any(walk(f.dataType) for f in schema.fields)


def _local_path(uri: str) -> Optional[str]:
    """Filesystem path of a local URI; None for object-store URIs."""
    path = uri[len("file://"):] if uri.startswith("file://") else uri
    return None if "://" in path else path


_FIELD_ID_CACHE: dict[str, str] = {}
_ROWID_COL_CACHE: dict[str, bool] = {}
PROBE_COUNT = 0  # test hook: number of actual footer reads performed


def file_has_rowid_column(uri: str) -> bool:
    """Footer probe (cached per path): does this data file carry the
    explicit ROWID_FILE_COL? Only consulted for files registered with
    row_id_start NULL — the DuckLake convention for UPDATE-rewritten
    files; a NULL-start file WITHOUT the column keeps the targeted
    rowid-scan error. Object-store URIs trust that convention."""
    if uri not in _ROWID_COL_CACHE:
        path = _local_path(uri)
        if path is None:
            return True
        import pyarrow as pa
        import pyarrow.parquet as pq
        try:
            have = ROWID_FILE_COL in pq.read_schema(path).names
        except (OSError, pa.ArrowInvalid):   # unreadable / not parquet
            have = False
        _ROWID_COL_CACHE[uri] = have
    return _ROWID_COL_CACHE[uri]


def _field_id_level(uri: str) -> str:
    """Footer probe: 'none' (no PARQUET:field_id anywhere), 'top'
    (top-level only — files from before nested-id stamping), or 'full'
    (nested ids present). The reference computes its rename mapping from
    ONE file footer per table (table.rs:220-295, types.rs:438-456). With
    fieldId.read enabled AND ignoreMissing, a field-id schema over
    id-less files silently yields all-NULL columns, so this check is
    load-bearing. Cached per path; object-store URIs default to 'full'
    (DuckLake writers stamp ids at every level)."""
    global PROBE_COUNT
    if uri in _FIELD_ID_CACHE:
        return _FIELD_ID_CACHE[uri]
    path = _local_path(uri)
    if path is None:
        return "full"
    import pyarrow as pa
    import pyarrow.parquet as pq

    def nested_has(t) -> bool:
        if pa.types.is_struct(t):
            return any((t.field(i).metadata or {}).get(b"PARQUET:field_id")
                       or nested_has(t.field(i).type)
                       for i in range(t.num_fields))
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return nested_has(t.value_type)
        if pa.types.is_map(t):
            return nested_has(t.key_type) or nested_has(t.item_type)
        return False

    PROBE_COUNT += 1
    try:
        fs = pq.read_schema(path)
    except (OSError, pa.ArrowInvalid):
        # unreadable / not parquet: the scan itself reports the file
        level = "full"
    else:
        top = any(fs.field(i).metadata
                  and b"PARQUET:field_id" in fs.field(i).metadata
                  for i in range(len(fs.names)))
        if not top:
            level = "none"
        elif any(nested_has(fs.field(i).type) for i in range(len(fs.names))):
            level = "full"
        else:
            level = "top"
    _FIELD_ID_CACHE[uri] = level
    return level


def _has_field_ids(uri: str) -> bool:
    return _field_id_level(uri) != "none"


def _split_by_field_ids(schema: T.StructType, files: list["ResolvedFile"]
                        ) -> list[tuple[T.StructType, list["ResolvedFile"]]]:
    """Group files by resolution mode (field-id vs name-based) with the
    matching read schema per group — mixed catalogs arise naturally from
    add_files() registering external id-less parquet.

    The catalog itself is the primary signal: a file with ``mapping_id``
    set was registered as name-mapped (no field ids) — no I/O needed. For
    the remaining files, ONE representative footer is probed and decides
    for the whole group, exactly the reference's one-probe-per-table
    cache (table.rs:220-235: "All files in a DuckLake table have the same
    schema structure, so we only need to check one") — O(1) driver I/O at
    plan time no matter how many files the snapshot has."""
    named = [f for f in files if f.mapping_id is not None]
    unknown = [f for f in files if f.mapping_id is None]
    groups = []
    if unknown:
        level = _field_id_level(unknown[0].data_uri)
        if level == "none":
            named = named + unknown
        elif level == "top" and _schema_has_nested_ids(schema):
            # pre-nested-id files under a struct-evolved schema: nested
            # fields resolve by name (correct for add/drop/promote; a
            # nested field renamed or dropped-and-readded AFTER such
            # files were written would need a rewrite first)
            groups.append((_strip_field_ids(schema, keep_top=True), unknown))
        else:
            groups.append((schema, unknown))
    if named:
        groups.append((_strip_field_ids(schema), named))
    return groups


def _check_local_exists(uri: str) -> None:
    """Missing-file error mapping (ref: table.rs:340-354): a catalog-
    referenced file that is gone must fail loudly as corruption, never
    silently drop rows. Cheap check for local paths only; object-store
    URIs surface at execution time."""
    path = _local_path(uri)
    if path is not None and not os.path.exists(path):
        raise CatalogCorruption(
            f"Catalog corruption: file referenced by catalog does not exist: {uri}")


def _mark_metadata(fld: T.StructField) -> dict:
    """Physical-read marks (TIME_MARK / INTERVAL_MARK) of a live
    top-level field, for carrying into a name-mapped read schema so
    add_files-renamed files take the same era-proof long read (TIME) /
    binary decode (INTERVAL) as id-resolved files. Field ids are
    deliberately NOT carried — mapped files resolve by name. (r8
    ADVICE: TIME previously bypassed the rewrite on this path, so a
    legacy bare-int64 time file under a renamed column would misread;
    INTERVAL was rejected loudly.)"""
    from ..types import INTERVAL_MARK, TIME_MARK
    return {k: v for k, v in (fld.metadata or {}).items()
            if k in (INTERVAL_MARK, TIME_MARK)}


def _interval_fields(schema: T.StructType) -> list[str]:
    """Names of top-level columns marked as DuckLake INTERVAL (the
    ``ducklake.interval`` metadata stamped by build_spark_schema).
    Detection is metadata-keyed on purpose: a user struct with the same
    months/days/micros shape must never be decoded."""
    from ..types import INTERVAL_MARK
    return [f.name for f in schema.fields
            if (f.metadata or {}).get(INTERVAL_MARK)]


def _time_fields(schema: T.StructType) -> list[str]:
    """Names of top-level TIME columns (``ducklake.time`` metadata) —
    read physically as int64 µs-of-day for era-proofness (see
    types.TIME_MARK)."""
    from ..types import TIME_MARK
    return [f.name for f in schema.fields
            if (f.metadata or {}).get(TIME_MARK)]


def time_decode(c) -> F.Column:
    """µs-of-day long → TimeType, exact to the microsecond (probed:
    make_time keeps the decimal fraction). NULL propagates through
    make_time's null-in-null-out semantics."""
    hour = F.floor(c / F.lit(3600000000)).cast("int")
    minute = F.floor((c % F.lit(3600000000)) / F.lit(60000000)).cast("int")
    secs = (c % F.lit(60000000)).cast(T.DecimalType(16, 6)) / F.lit(1000000)
    return F.make_time(hour, minute, secs)


def _le_u32(b, off: int):
    """Little-endian u32 at 1-indexed byte offset ``off`` of binary
    column ``b`` — byte-swap via concat of 1-byte substrings, then
    hex→conv. Entirely built-in expressions (whole-stage codegen)."""
    swapped = F.concat(F.substring(b, off + 3, 1), F.substring(b, off + 2, 1),
                       F.substring(b, off + 1, 1), F.substring(b, off, 1))
    return F.conv(F.hex(swapped), 16, 10).cast("long")


def interval_decode(b) -> F.Column:
    """Decode one parquet INTERVAL value (FIXED_LEN_BYTE_ARRAY(12) read
    physically as binary: months, days, millis — LE u32 each, the
    parquet logical-type spec's layout) into the engine's
    struct<months:int, days:int, micros:long> representation (reference
    maps the same column to Arrow Interval(MonthDayNano), types.rs:56).
    micros = millis*1000 — lossless w.r.t. file contents; DuckDB itself
    truncates sub-milli when writing parquet intervals."""
    from ..types import INTERVAL_SPARK_TYPE
    return F.when(b.isNull(), F.lit(None).cast(INTERVAL_SPARK_TYPE)) \
        .otherwise(F.struct(
            _le_u32(b, 1).cast("int").alias("months"),
            _le_u32(b, 5).cast("int").alias("days"),
            (_le_u32(b, 9) * 1000).alias("micros")))


def _interval_arrow_struct():
    """The arrow twin of types.INTERVAL_SPARK_TYPE, derived from it (one
    source of truth — decode_arrow_intervals matches targets by exact
    type equality, so a hand-copied shape that drifted would silently
    stop matching)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..types import INTERVAL_SPARK_TYPE
    return to_arrow_schema(
        T.StructType([T.StructField("iv", INTERVAL_SPARK_TYPE)])
    ).field("iv").type


def interval_decode_arrow(col):
    """pyarrow-side twin of :func:`interval_decode` for paths that read
    parquet through pyarrow (the streaming source, the PME-encrypted
    scan): → struct<months:int32, days:int32, micros:int64>,
    numpy-vectorized (one frombuffer per chunk, never per-row Python).

    Handles BOTH arrow surfaces of a parquet INTERVAL column:
    - fixed_size_binary[12] (ParquetFile.read of plain files): the
      little-endian (months, days, millis) u32 triple;
    - month_day_nano_interval (pyarrow's decryption reader): 16-byte
      (months i32, days i32, nanos i64) values — nanos floor to µs
      exactly, since every writer here stores ≥µs granularity."""
    import numpy as np
    import pyarrow as pa

    out_type = _interval_arrow_struct()
    mdn = pa.types.is_interval(col.type)
    chunks = []
    for c in (col.chunks if isinstance(col, pa.ChunkedArray) else [col]):
        n = len(c)
        data = c.buffers()[1]
        if n == 0 or data is None:
            chunks.append(pa.nulls(n, out_type))
            continue
        if mdn:
            rec = np.frombuffer(
                data, dtype=np.dtype([("m", "<i4"), ("d", "<i4"),
                                      ("ns", "<i8")]),
                count=c.offset + n)[c.offset:]
            months = rec["m"].astype("i4")
            days = rec["d"].astype("i4")
            micros = rec["ns"] // 1000
        else:
            vals = np.frombuffer(data, dtype="<u4",
                                 count=(c.offset + n) * 3)[c.offset * 3:]
            vals = vals.reshape(-1, 3)
            comp = vals[:, :2]
            if c.null_count:
                # NULL slots carry unspecified bytes — only check the
                # valid rows (a zero-filled reader is common but not
                # guaranteed by the Arrow format)
                comp = comp[np.asarray(c.is_valid())]
            if (comp >= 2 ** 31).any():
                # the documented int32 ceiling — fail LOUDLY like the
                # JVM decode's ANSI cast, never wrap to negatives
                raise ValueError(
                    "interval months/days component >= 2^31 is not "
                    "representable (engine maps parquet INTERVAL u32 "
                    "components to int32)")
            months = vals[:, 0].astype("i4")
            days = vals[:, 1].astype("i4")
            micros = vals[:, 2].astype("i8") * 1000
        mask = None
        if c.null_count:
            mask = pa.compute.invert(c.is_valid())
        chunks.append(pa.StructArray.from_arrays(
            [pa.array(months), pa.array(days), pa.array(micros)],
            names=["months", "days", "micros"], mask=mask))
    return pa.chunked_array(chunks, type=out_type)


def decode_arrow_intervals(table, target):
    """Replace every column that is fixed_size_binary[12] or
    month_day_nano_interval in ``table`` but the interval struct in the
    ``target`` arrow schema with its decoded form. Shape-keyed detection
    is sound here: those exact physical/declared pairings only arise
    from the interval mapping (a genuine user struct column arrives as
    a struct already and is left alone)."""
    import pyarrow as pa

    iv_struct = _interval_arrow_struct()
    for i, name in enumerate(table.schema.names):
        want = target.field(name).type if name in target.names else None
        have = table.schema.field(i).type
        if want == iv_struct and (have == pa.binary(12)
                                  or pa.types.is_interval(have)):
            table = table.set_column(
                i, pa.field(name, iv_struct),
                interval_decode_arrow(table.column(i)))
    return table


def _read_parquet(spark: SparkSession, schema: T.StructType,
                  paths: list[str]) -> DataFrame:
    iv = set(_interval_fields(schema))
    tm = set(_time_fields(schema))
    if not iv and not tm:
        return spark.read.schema(schema).parquet(*paths)
    # INTERVAL/TIME columns: swap the logical type for the physical one
    # in the read schema (binary for FLBA(12) interval, int64 µs-of-day
    # for time — era-proof across pre-annotation files; field-id
    # metadata preserved so id-resolution still applies), then decode
    # right above the scan. The projection is per-column and
    # constant-shaped, so Catalyst still pushes filters on OTHER columns
    # into the scan, and ``_metadata.row_index`` remains resolvable on
    # the result (the delete-filter path relies on it). Columns are
    # referenced via df[...] — name-safe for dots/backticks.
    def phys_field(f):
        if f.name in iv:
            return T.StructField(f.name, T.BinaryType(), f.nullable,
                                 metadata=f.metadata)
        if f.name in tm:
            return T.StructField(f.name, T.LongType(), f.nullable,
                                 metadata=f.metadata)
        return f

    df = spark.read.schema(
        T.StructType([phys_field(f) for f in schema.fields])).parquet(*paths)

    def ref(c):  # backtick-quoted: a name with a '.' is NOT a field path
        return F.col("`" + c.replace("`", "``") + "`")

    # the decoded interval column carries INTERVAL_MARK on its output
    # field too, so frames DERIVED from a scan (CTAS ... AS SELECT,
    # compact's overwrite rewrite) still declare a real INTERVAL column
    # instead of silently downgrading to a plain struct (r9 write path)
    from ..types import INTERVAL_MARK
    return df.select(*[
        interval_decode(ref(c)).alias(c, metadata={INTERVAL_MARK: True})
        if c in iv
        else time_decode(ref(c)).alias(c) if c in tm
        else ref(c).alias(c)
        for c in df.columns])


# Positional-delete files are (file_path VARCHAR, pos BIGINT); file_path
# is documentation-only (ref: table.rs:82-92, 297-305). Every delete-file
# read names this schema, so Spark reads only ``pos`` and runs no
# schema-inference job.
DELETE_POS_SCHEMA = "pos BIGINT"

# Deletion vectors held on the driver: bitset words per delete file (files
# are immutable — DML writes a NEW uuid-named one per transaction), LRU
# over at most _WORDS_CACHE_BYTES of words (record_count/64 int64s per
# file), so a table's count of dirty files does not decide whether its
# reads hit the cache; the newest vector stays even when it alone is over.
# The lock guards the LRU bookkeeping, never a delete-file read.
_DELETION_VECTORS: "OrderedDict[str, object]" = OrderedDict()
_WORDS_CACHE_BYTES = 64 << 20
_DELETION_VECTORS_LOCK = threading.Lock()


def positions_bitset(positions, n_rows: int):
    """int64 bitset over ``n_rows`` rows: word ``pos >> 6``, bit
    ``pos & 63``. Positions outside [0, n_rows) are dropped before
    allocation: they delete nothing (ref: delete_filter.rs:211-344), and a
    stray 2**40 must not size the array."""
    import numpy as np
    pos = np.asarray(positions, dtype=np.int64)
    pos = pos[(pos >= 0) & (pos < n_rows)]
    words = np.zeros(-(-n_rows // 64), dtype=np.int64)
    np.bitwise_or.at(words, pos >> 6, np.left_shift(np.int64(1), pos & 63))
    return words


def deletion_vector(spark: SparkSession, delete_uri: str,
                    record_count: Optional[int], data_uri: str,
                    encryption_key: Optional[str] = None):
    """One delete file's bitset over its data file, read once on the
    driver: pyarrow for local files (decrypted with ``encryption_key``,
    the delete file's stored PME key, when it has one), one Arrow collect
    for object stores. Without a catalog ``record_count`` the data file's
    footer sizes it."""
    _check_local_exists(delete_uri)
    with _DELETION_VECTORS_LOCK:
        words = _DELETION_VECTORS.get(delete_uri)
        if words is not None:
            _DELETION_VECTORS.move_to_end(delete_uri)
    if words is None:
        path = _local_path(delete_uri)
        if encryption_key is not None:
            from .encryption import decode_key, read_encrypted_arrow
            pos = read_encrypted_arrow(
                delete_uri, decode_key(encryption_key)).column("pos")
        elif path is not None:
            import pyarrow.parquet as pq
            pos = pq.ParquetFile(path).read(columns=["pos"]).column("pos")
        else:
            pos = (spark.read.schema(DELETE_POS_SCHEMA).parquet(delete_uri)
                   .toArrow().column("pos"))
        if record_count is None:
            jvm = spark._jvm
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    jvm.org.apache.hadoop.fs.Path(data_uri),
                    spark._jsc.hadoopConfiguration()))
            try:
                record_count = reader.getRecordCount()
            finally:
                reader.close()
        words = positions_bitset(pos.drop_null().to_numpy(), record_count)
        words.flags.writeable = False     # shared by every later scan
        with _DELETION_VECTORS_LOCK:
            _DELETION_VECTORS[delete_uri] = words
            held = sum(v.nbytes for v in _DELETION_VECTORS.values())
            while held > _WORDS_CACHE_BYTES and len(_DELETION_VECTORS) > 1:
                held -= _DELETION_VECTORS.popitem(last=False)[1].nbytes
    return words


def deletion_vectors(spark: SparkSession, by_key: dict) -> dict:
    """key → deletion vector for the files of ``by_key`` (key → file)
    that have a delete file."""
    return {k: deletion_vector(spark, f.delete_uri, f.record_count,
                               f.data_uri, f.delete_encryption_key)
            for k, f in by_key.items() if f.delete_uri is not None}


def _words_literal(spark: SparkSession, words):
    """``words`` as one JVM long[], built with a constant number of py4j
    calls (the bytes cross once, as a byte[])."""
    nio = spark._jvm.java.nio
    longs = nio.LongBuffer.allocate(len(words))
    longs.put(nio.ByteBuffer.wrap(words.astype("<i8").tobytes())
              .order(nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer())
    return longs.array()


def bitset_filter(spark: SparkSession, data: DataFrame, bitsets: dict,
                  keep_set: bool = False, key: str = "_metadata.file_name",
                  pos: str = "_metadata.row_index") -> DataFrame:
    """Filter rows on their file-local position against a deletion
    bitset. ``bitsets`` maps a data file's key, as the ``key`` column
    reports it (by default the file name Spark's scan reports), to its
    words; ``pos`` is the row's file-local position column. A row whose
    bit is set is dropped (``keep_set``: only such rows are kept); rows
    of files not named pass (``keep_set``: are dropped).

    Every file's words ride in ONE ``map<string, array<bigint>>`` literal
    and every row takes the same test, ``m[key][(pos >> 6) + 1] & (1 <<
    pos % 64)``, so the filter's expression size does not grow with the
    number of files, and it runs inside the scan stage: no join, no
    exchange, no extra job."""
    if not bitsets:
        return data
    import numpy as np
    jvm = spark._jvm
    gateway = spark.sparkContext._gateway
    # all words cross py4j in one call; each file then costs one name
    # and one JVM-side copy of its slice
    flat = _words_literal(spark, np.concatenate(list(bitsets.values())))
    names = gateway.new_array(jvm.String, len(bitsets))
    vectors = gateway.new_array(jvm.long, len(bitsets), 0)
    copy, start = jvm.java.util.Arrays.copyOfRange, 0
    for i, (name, words) in enumerate(bitsets.items()):
        names[i] = name
        vectors[i] = copy(flat, start, start + len(words))
        start += len(words)
    lit = jvm.org.apache.spark.sql.functions.lit
    m = F.map_from_arrays(Column(lit(names)), Column(lit(vectors)))
    p = F.col(pos)
    word = F.coalesce(
        F.try_element_at(F.try_element_at(m, F.col(key)),
                         (F.shiftright(p, 6) + 1).cast("int")),
        F.lit(0).cast("long"))
    bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                          (p % 64).cast("int"))
    hit = word.bitwiseAND(bit) != 0
    return data.filter(hit if keep_set else ~hit)


def _scan_name(spark: SparkSession, uri: str) -> str:
    """A data file's name as Spark's ``_metadata.file_name`` reports it:
    the last segment of its URL-encoded path."""
    name = uri.rsplit("/", 1)[-1]
    if re.fullmatch(r"[A-Za-z0-9._=+-]+", name):
        return name
    return spark._jvm.org.apache.hadoop.fs.Path(uri).toUri().getRawPath() \
        .rsplit("/", 1)[-1]


def _empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
    # ref: EmptyExec for tables with no live files (table.rs:641-649)
    return spark.createDataFrame([], schema)


VIRTUAL_FIELDS = [("rowid", T.LongType()), ("filename", T.StringType()),
                  ("file_row_number", T.LongType()),
                  ("file_index", T.LongType()),
                  ("snapshot_id", T.LongType())]
_HIDDEN = "__ducklake_"     # prefix of a virtual column inside the scan


def scan_table(spark: SparkSession, schema: T.StructType,
               files: list[ResolvedFile], with_rowid: bool = False,
               with_virtual: bool = False) -> DataFrame:
    """Compose the snapshot-consistent scan DataFrame for a table.

    The returned plan is declarative: Catalyst pushes projections and
    predicates into every branch (filters re-apply above the scan exactly
    as the reference's Inexact pushdown declares; table.rs:584-598 — for
    us this is Spark's default DataSource behavior).

    ``with_rowid=True`` appends the DuckLake virtual ``rowid`` column
    (catalog ``row_id_start`` + file-local position, or the file's own
    ROWID_FILE_COL); every file must have one of the two.
    ``with_virtual=True`` appends ``rowid`` (NULL where a file has
    neither) and the virtual columns ``filename``, ``file_row_number``,
    ``file_index`` (position in ``files``) and ``snapshot_id`` (the row's
    insertion snapshot) — corpus: sql/virtualcolumns/. Both ride the
    shared scan (see _with_row_columns) under hidden names until the
    final positional rename, so a user column that shares a virtual
    column's name is kept beside it, not overwritten."""
    _configure_fieldid_read(spark)
    extras = [n for n, _ in VIRTUAL_FIELDS] if with_virtual \
        else ["rowid"] if with_rowid else []

    if not files:
        return _empty(spark, T.StructType(
            list(schema.fields) + [T.StructField(n, t, True)
                                   for n, t in VIRTUAL_FIELDS
                                   if n in extras]))

    if with_rowid and not with_virtual:
        from ..errors import InvalidConfig
        for f in files:
            if f.row_id_start is None and not (
                    _encrypted_has_rowid(f) if f.encryption_key is not None
                    else file_has_rowid_column(f.data_uri)):
                raise InvalidConfig(
                    f"rowid scan requires row_id_start in the catalog (or "
                    f"the in-file rowid column) for every data file "
                    f"(missing for {f.data_uri})")
    index = {f.data_uri: i for i, f in enumerate(files)}
    encrypted = [f for f in files if f.encryption_key is not None]
    files = [f for f in files if f.encryption_key is None]
    for f in files:
        _check_local_exists(f.data_uri)

    parts: list[DataFrame] = []

    # Name-mapped files whose mapping differs from a plain by-name read
    # (add_files: renames, dropped-column shadowing, hive injection).
    # Group by (mapped_cols, hive_values): each group scans ONLY its
    # mapped in-file columns under their at-add-time names, renames to
    # the live names, stamps hive path values as typed literals and
    # NULL-fills uncovered live columns — all constant-folded Columns,
    # so the transform stays inside whole-stage codegen.
    #
    # SCALE PATH: literal injection makes one scan branch per distinct
    # partition-value tuple — fine for tens of partitions, a driver-side
    # plan explosion at 100k. Past MAX_HIVE_VALUE_BRANCHES distinct
    # tuples (per mapping shape), ONE scan extracts the values from each
    # row's own ``_metadata.file_path`` with regexp_extract — O(1) plan
    # nodes in partition count, still codegen'd.
    mapped = [f for f in files if f.mapped_cols is not None]
    files = [f for f in files if f.mapped_cols is None]
    if mapped:
        types = {fld.name: fld.dataType for fld in schema.fields}
        # Files group by (effective mapping, hive shape, clipped schema).
        by_shape: dict[tuple, list] = {}
        for f in mapped:
            eff, rs = mapped_read_schema(schema, f)
            key = (eff,
                   tuple((h[0], h[1]) for h in (f.hive_values or ())),
                   rs.simpleString())
            by_shape.setdefault(key, [rs, []])[1].append(f)
        for (mcols, hive_keys, _sig), (read_schema, shape_files) in sorted(
                by_shape.items(), key=lambda kv: repr(kv[0])):
            combos = {f.hive_values for f in shape_files}
            clean = [f for f in shape_files if f.delete_uri is None]
            # The regexp path reads RAW path segments, so it only serves
            # files whose values are path-faithful (no percent-escapes,
            # no NULL marker). Faithful iff quoting is a no-op — urllib
            # escapes a superset of hive's escape set, so over-flagging
            # only sends a file to the exact literal branches.
            from urllib.parse import quote
            faithful = lambda c: all(  # noqa: E731
                v is not None and quote(v, safe="") == v
                for _, _, v in (c or ()))
            scale_files = [f for f in clean if faithful(f.hive_values)]
            if hive_keys and len(combos) > MAX_HIVE_VALUE_BRANCHES \
                    and not extras and scale_files:
                # one scan for every clean path-faithful hive file;
                # MOR-dirty and escaped-value files (rare) fall through
                # to the literal branches below
                df = _with_path(_read_parquet(
                    spark, read_schema,
                    [f.data_uri for f in scale_files]))
                df = apply_mapping(df, schema, mcols, (), [PATH_COL])
                for live, src in hive_keys:
                    # anchor at a path-segment start: a bare "pk=" would
                    # also match inside "other_pk=5"
                    df = df.withColumn(
                        live,
                        F.nullif(
                            F.regexp_extract(
                                F.col(PATH_COL),
                                "(?:^|/)" + re.escape(src) + "=([^/]+)",
                                1),
                            F.lit("")).cast(types[live]))
                parts.append(df.drop(PATH_COL))
                taken = {id(f) for f in scale_files}
                shape_files = [f for f in shape_files
                               if id(f) not in taken]
                if not shape_files:
                    continue
            groups: dict[tuple, list[ResolvedFile]] = {}
            for f in shape_files:
                groups.setdefault(f.hive_values or (), []).append(f)
            # repr-keyed sort: value tuples may mix None (the hive NULL
            # marker) with strings, which plain tuple compare rejects
            for hive, group in sorted(groups.items(),
                                      key=lambda kv: repr(kv[0])):
                df = _scan_files(spark, read_schema, group, index, extras)
                hive_lits = tuple((h[0], h[2]) for h in hive)
                parts.append(apply_mapping(
                    df, schema, mcols, hive_lits,
                    [_HIDDEN + n for n in extras]))
    if encrypted:
        parts.append(_scan_encrypted(spark, schema, encrypted, index,
                                     extras))
    for group_schema, group in _split_by_field_ids(schema, files):
        parts.append(_scan_files(spark, group_schema, group, index, extras))

    df = reduce(DataFrame.unionByName, parts)
    return df.toDF(*[f.name for f in schema.fields], *extras) \
        if extras else df


def _name_batches(spark: SparkSession,
                  files: list[ResolvedFile]) -> list[dict]:
    """``files`` split into batches of distinct names as Spark reports
    them (``_scan_name``), each a name → file dict: one batch unless a
    catalog repeats a name in different directories (add_files)."""
    batches: list[dict] = []
    for f in files:
        name = _scan_name(spark, f.data_uri)
        batch = next((b for b in batches if name not in b), None)
        if batch is None:
            batches.append(batch := {})
        batch[name] = f
    return batches


def _per_file(key: Column, values: dict, dtype: str) -> Column:
    """Each row's entry of ``values`` (file key → constant), looked up by
    the row's ``key`` through one map literal: constant-folded, so the
    lookup runs inside the scan stage with no join."""
    distinct = set(values.values())
    if len(distinct) == 1:
        return F.lit(distinct.pop()).cast(dtype)
    return F.create_map(*[F.lit(x) for kv in values.items()
                          for x in kv])[key].cast(dtype)


def _with_row_columns(df: DataFrame, by_key: dict, key: Column,
                      pos: Column, index: dict,
                      extras: list[str]) -> DataFrame:
    """Append ``extras`` (``rowid`` and/or the VIRTUAL_FIELDS names, each
    prefixed with _HIDDEN) to rows of the files in ``by_key`` (key →
    file), given each row's file ``key`` and file-local ``pos``:

    - ``rowid`` = catalog ``row_id_start`` + pos, else the file's own
      ROWID_FILE_COL (UPDATE-rewritten rows keep their original ids);
      NULL if the file has neither
    - ``filename`` = the resolved data-file URI, ``file_row_number`` =
      pos (physical: a deleted row's neighbors keep theirs),
      ``file_index`` = ``index[data_uri]``
    - ``snapshot_id`` = the file's SNAPSHOT_FILE_COL (flushed inlined
      rows keep their own), else its registration snapshot

    The reserved in-file columns, when read, are dropped."""
    def in_file(name):
        return F.col(name) if name in df.columns else F.lit(None)

    def per_file(value, dtype):
        return _per_file(key, {k: value(f) for k, f in by_key.items()},
                         dtype)

    cols = {
        "rowid": F.coalesce(per_file(lambda f: f.row_id_start, "long") + pos,
                            in_file(ROWID_FILE_COL)).cast("long"),
        "filename": per_file(lambda f: f.data_uri, "string"),
        "file_row_number": pos.cast("long"),
        "file_index": per_file(lambda f: index[f.data_uri], "long"),
        "snapshot_id": F.coalesce(
            in_file(SNAPSHOT_FILE_COL),
            per_file(lambda f: f.begin_snapshot, "long")).cast("long"),
    }
    return (df.withColumns({_HIDDEN + n: cols[n] for n in extras})
            .drop(ROWID_FILE_COL, SNAPSHOT_FILE_COL))


def _riders(files: list[ResolvedFile], extras: list[str]) -> list[str]:
    """Reserved in-file columns to read alongside the data for
    ``extras``: the rowid column where a file has no catalog
    ``row_id_start``, and the snapshot column whenever ``snapshot_id``
    is asked for — a compaction's run files carry one beside their
    ``row_id_start``. A file lacking one reads it as NULL."""
    riders = []
    if extras and any(f.row_id_start is None for f in files):
        riders.append(ROWID_FILE_COL)
    if "snapshot_id" in extras:
        riders.append(SNAPSHOT_FILE_COL)
    return riders


def _scan_files(spark: SparkSession, schema: T.StructType,
                files: list[ResolvedFile], index: dict,
                extras: list[str]) -> DataFrame:
    """Unencrypted files read under one ``schema`` (a name-mapped group
    passes its in-file read schema): ONE scan per name batch, clean and
    dirty files alike, its rows filtered by the dirty files' driver-held
    deletion vectors (bitset_filter) and ``extras`` attached by
    _with_row_columns."""
    def read(by_name):
        riders = _riders(list(by_name.values()), extras)
        df = _read_parquet(spark, T.StructType(
            list(schema.fields)
            + [T.StructField(c, T.LongType(), True) for c in riders]),
            [f.data_uri for f in by_name.values()])
        if not extras:
            return df
        return _with_row_columns(
            df, by_name, F.col("_metadata.file_name"),
            F.col("_metadata.row_index"), index, extras)

    return reduce(DataFrame.unionByName, [
        bitset_filter(spark, read(batch), deletion_vectors(spark, batch))
        for batch in _name_batches(spark, files)])


def _era_clip_type(dt: T.DataType, file_begin: Optional[int]
                   ) -> Optional[T.DataType]:
    """For a NAME-MAPPED file registered at ``file_begin``: drop nested
    struct fields whose identity first appeared AFTER the file was added
    (``ducklake.field.begin`` metadata). Such a field must read NULL —
    a same-named column in the old file belongs to a dropped identity,
    and reading it by name would resurrect deleted values. Returns None
    when a struct loses every field (read nothing; NULL-fill whole)."""
    if file_begin is None:
        return dt
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            b = (f.metadata or {}).get("ducklake.field.begin")
            if b is not None and int(b) > file_begin:
                continue
            sub = _era_clip_type(f.dataType, file_begin)
            if sub is None:
                continue
            fields.append(T.StructField(f.name, sub, f.nullable,
                                        metadata=f.metadata))
        if not fields:
            return None
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        sub = _era_clip_type(dt.elementType, file_begin)
        return None if sub is None else T.ArrayType(sub, dt.containsNull)
    if isinstance(dt, T.MapType):
        k = _era_clip_type(dt.keyType, file_begin)
        v = _era_clip_type(dt.valueType, file_begin)
        if k is None or v is None:
            return None
        return T.MapType(k, v, dt.valueContainsNull)
    return dt


def mapped_read_schema(schema: T.StructType, f: ResolvedFile
                       ) -> tuple[tuple, T.StructType]:
    """A name-mapped file's effective mapping and read schema: its mapped
    in-file columns under their at-add-time names.

    - TIME/INTERVAL physical-read marks ride in per destination column
      (see _mark_metadata), so _read_parquet applies the same decode.
    - Era clipping (no-resurrection contract): a nested field whose
      IDENTITY postdates the file's registration is removed — a
      same-named column in the file belongs to a dropped identity and
      must read NULL; a column clipped to nothing leaves the mapping."""
    clipped = {dst: _era_clip_type(schema[dst].dataType, f.begin_snapshot)
               for _src, dst in f.mapped_cols}
    eff = tuple((src, dst) for src, dst in f.mapped_cols
                if clipped[dst] is not None)
    return eff, T.StructType([T.StructField(
        src, _strip_nested_metadata(clipped[dst]), True,
        metadata=_mark_metadata(schema[dst])) for src, dst in eff])


def _conform_by_name(expr, src_dt: T.DataType, dst_dt: T.DataType):
    """Rebuild a value of ``src_dt`` into the full ``dst_dt`` BY NAME,
    NULL-filling struct fields src lacks (the read-side twin of the
    INSERT coercion; Spark's struct cast is positional)."""
    if isinstance(dst_dt, T.StructType) and isinstance(src_dt, T.StructType):
        src_map = {f.name.lower(): f for f in src_dt.fields}
        built = F.struct(*[
            _conform_by_name(expr[src_map[f.name.lower()].name],
                             src_map[f.name.lower()].dataType,
                             f.dataType).alias(f.name)
            if f.name.lower() in src_map
            else F.lit(None).cast(_strip_nested_metadata(f.dataType))
            .alias(f.name)
            for f in dst_dt.fields])
        return F.when(expr.isNull(),
                      F.lit(None).cast(_strip_nested_metadata(dst_dt))
                      ).otherwise(built)
    if isinstance(dst_dt, T.ArrayType) and isinstance(src_dt, T.ArrayType):
        return F.transform(
            expr, lambda e: _conform_by_name(e, src_dt.elementType,
                                             dst_dt.elementType))
    if isinstance(dst_dt, T.MapType) and isinstance(src_dt, T.MapType):
        return F.transform_values(
            expr, lambda _k, v: _conform_by_name(v, src_dt.valueType,
                                                 dst_dt.valueType)
        ).cast(_strip_nested_metadata(dst_dt))
    return expr.cast(_strip_nested_metadata(dst_dt)) \
        if src_dt.simpleString() != dst_dt.simpleString() else expr


def apply_mapping(df: DataFrame, schema: T.StructType,
                  mapped_cols: tuple, hive_values: Optional[tuple],
                  extras: list[str]) -> DataFrame:
    """Rename a name-mapped file's columns to their live names, stamp
    hive path values as typed literals and NULL-fill uncovered live
    columns (add_files contract — see ResolvedFile.mapped_cols).
    ``extras``: pass-through columns (positions, virtual cols). Output
    columns come back in TABLE-SCHEMA ORDER (+ extras) — a mapped part
    must not reorder SELECT * / toArrow consumers."""
    types = {fld.name: fld.dataType for fld in schema.fields}
    covered = {dst for _, dst in mapped_cols}
    present = [c for c in extras if c in df.columns]
    in_types = {f.name: f.dataType for f in df.schema.fields}

    marks = {fld.name: _mark_metadata(fld) for fld in schema.fields}

    def col_expr(src, dst):
        want = types[dst]
        have = in_types.get(src)
        if have is not None and have.simpleString() != want.simpleString():
            # era-clipped struct (fields newer than the mapped file were
            # not read): rebuild by name, NULL-filling the clipped slots
            expr = _conform_by_name(F.col(src), have, want)
        else:
            expr = F.col(src)
        # physical-read marks survive onto the mapped OUTPUT field too,
        # so derived frames keep declaring interval (see _read_parquet)
        md = marks[dst]
        return expr.alias(dst, metadata=md) if md else expr.alias(dst)

    df = df.select(*[col_expr(src, dst) for src, dst in mapped_cols],
                   *present)
    for col, val in (hive_values or ()):
        df = df.withColumn(col, F.lit(val).cast(types[col]))
        covered.add(col)
    for fld in schema.fields:
        if fld.name not in covered:
            df = df.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    return df.select(*[fld.name for fld in schema.fields], *present)


_ENC_ROWID_CACHE: dict[str, bool] = {}


def _encrypted_has_rowid(f: "ResolvedFile") -> bool:
    """Does an encrypted row_id_start-NULL file carry the in-file rowid
    column? Footer-only decrypt, cached per immutable path."""
    if f.data_uri in _ENC_ROWID_CACHE:
        return _ENC_ROWID_CACHE[f.data_uri]
    import duckdb

    from . import encryption as enc
    path = f.data_uri[len("file://"):] \
        if f.data_uri.startswith("file://") else f.data_uri
    try:
        names = enc.read_encrypted_schema(
            path, enc.decode_key(f.encryption_key)).names
    except duckdb.Error:     # neither decrypt route could open the footer
        names = []
    has = ROWID_FILE_COL in names
    _ENC_ROWID_CACHE[f.data_uri] = has
    return has


def _scan_encrypted(spark: SparkSession, schema: T.StructType,
                    files: list[ResolvedFile], index: dict,
                    extras: list[str]) -> DataFrame:
    """PME-encrypted files: decrypt executor-side (A15 — Spark's reader
    has no PME hook). ONE mapInPandas stage decodes every file (the
    driver ships only (path, key) pairs); each row carries its data-file
    URI and the position synthesized in file order inside the decode, so
    the deletes apply through the same bitset_filter as the plain scan,
    keyed on that URI and position, and ``extras`` attach by the same
    _with_row_columns."""
    from . import encryption as enc

    for f in files:
        _check_local_exists(f.data_uri)
        enc.check_not_duckdb_encrypted(f.data_uri)

    want = [f.name for f in schema.fields]
    riders = _riders(files, extras)
    out_schema = T.StructType(
        list(schema.fields)
        + [T.StructField(POS_COL, T.LongType(), False),
           T.StructField(FILE_COL, T.StringType(), False)]
        + [T.StructField(c, T.LongType(), True) for c in riders])

    iv_cols = set(_interval_fields(schema))
    tm_cols = set(_time_fields(schema))

    def decode(pdf_iter):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        iv_target = to_arrow_schema(
            T.StructType([f for f in schema.fields
                          if f.name in iv_cols])) if iv_cols else None
        for pdf in pdf_iter:
            for path, key in zip(pdf["path"], pdf["key"]):
                tbl = enc.read_encrypted_arrow(path, enc.decode_key(key))
                # reserved in-file columns (rowid / per-row snapshot of
                # UPDATE-rewritten or flushed files) must not leak into
                # the data schema; they ride out as riders when asked for
                sel = tbl.select(
                    [n for n in tbl.schema.names if n in want])
                if iv_cols:
                    # INTERVAL columns surface as month_day_nano (or
                    # FLBA(12)) from the decrypt reader — decode to the
                    # engine's struct representation before pandas
                    sel = decode_arrow_intervals(sel, iv_target)
                for i, n in enumerate(sel.schema.names):
                    # TIME columns: pre-r8 encrypted files store bare
                    # int64 µs-of-day; arrow casts both that and
                    # time64 to time64(µs) exactly
                    if n in tm_cols:
                        sel = sel.set_column(
                            i, pa.field(n, pa.time64("us")),
                            sel.column(i).cast(pa.time64("us")))
                out = sel.to_pandas()
                for n in want:
                    if n not in out.columns:
                        out[n] = None
                out[POS_COL] = range(len(out))
                out[FILE_COL] = path
                for c in riders:
                    out[c] = tbl.column(c).to_pandas().values \
                        if c in tbl.schema.names else None
                yield out

    pairs = spark.createDataFrame(
        [(f.data_uri, f.encryption_key) for f in files],
        "path STRING, key STRING").repartition(len(files))
    by_uri = {f.data_uri: f for f in files}
    data = bitset_filter(spark, pairs.mapInPandas(decode, out_schema),
                         deletion_vectors(spark, by_uri),
                         key=FILE_COL, pos=POS_COL)
    if extras:
        data = _with_row_columns(data, by_uri, F.col(FILE_COL),
                                 F.col(POS_COL), index, extras)
    return data.drop(POS_COL, FILE_COL)
