"""Write path: INSERT INTO (append/overwrite), CTAS, and the staging and
registration every other write (DML, inlined-data flush, compaction)
commits through.

Reference parity (SURVEY.md §2A A8-A10): DuckLakeInsertExec
(src/insert_exec.rs:34-214) + DuckLakeTableWriter
(src/table_writer.rs:44-130, 201-291) + the one-transaction catalog setup
(src/metadata_writer_sqlite.rs:331-470).

Order: files first, then ONE catalog transaction. A write plans its
target against the head (``_plan_write``: the write's
begin_write_transaction under a rolled-back transaction gives the column
ids the files must carry), stages its files (``stage_files``), and only
then opens one ``writer._txn()`` that writes the snapshot, its change
labels, any column versions, the end of replaced files, every
registration (``register_files``), inlined rows and the streaming sink's
commit marker. Why this order: the catalog changes only when every file
it names exists, so a failed or refused write leaves unregistered files
(``delete_orphaned_files`` reclaims them) and never a partial commit; a
snapshot is complete from the moment a reader can pin it; and a
conflict in any registration rolls back the whole write. The commit
re-runs the setup and refuses (TransactionConflict) when it would
resolve other columns than the staged files carry.

Spark-first: the input DataFrame is written by executors with
``df.write.parquet`` (field ids stamped via schema metadata +
spark.sql.parquet.fieldId.write.enabled); N written files register as N
``ducklake_data_file`` rows in one snapshot — the catalog model supports
that natively, unlike the reference's collect-to-one-batch limitation
(insert_exec.rs:3-5), whose one-file shape is the default here
(``_file_split``).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .errors import InvalidConfig
from .metadata.provider import Settings
from .metadata.writer import CatalogWriter, ColumnDef, DataFileInfo, WriteMode
from .types import (is_geometry_type, is_interval_type,
                    spark_to_ducklake_type)


def _catalog_writer(session, settings: Optional[Settings] = None
                    ) -> CatalogWriter:
    """The session's catalog writer; ``settings`` is the statement's
    settings read when it has one."""
    w = _catalog_writer_raw(session)
    # the provider's present answers hold for the writer too (tables and
    # columns are only ever added); an absent one is still probed inside
    # the writer's transaction
    w._shape.seed(session.provider._shape)
    # max_retry_count (DuckDB's ducklake_max_retry_count, default 10):
    # retries of the catalog BEGIN on transient cross-process lock
    # contention — sql/settings/max_retry_count.test
    raw = (settings or session.provider.settings()).get("max_retry_count")
    if raw is not None:
        try:
            w.max_retry_count = max(0, int(raw))
        except (TypeError, ValueError):
            pass
    note = getattr(session, "_note_txn_snapshot", None)
    if note is not None:
        # explicit-transaction bookkeeping: the session records the
        # snapshot ids ITS statements allocate so ROLLBACK rewinds only
        # them (writer.rollback_to_snapshot's `only` parameter)
        w.on_snapshot = note
    return w


def _catalog_writer_raw(session) -> CatalogWriter:
    if getattr(session, "read_only", False):
        # READ_ONLY attach (corpus: sql/general/ducklake_read_only.test)
        raise InvalidConfig(
            "Cannot write to the catalog: the session is read-only")
    path = session.catalog_path
    if path.startswith(("postgresql://", "postgres://")):
        return CatalogWriter.postgres(path)
    if path.startswith("mysql://"):
        from urllib.parse import unquote, urlparse
        u = urlparse(path)
        # urlparse leaves userinfo percent-encoded; credentials with
        # special characters (e.g. %40 for @) must be decoded before
        # they reach the driver
        return CatalogWriter.mysql(
            host=u.hostname, port=u.port or 3306,
            user=unquote(u.username) if u.username else u.username,
            password=unquote(u.password) if u.password else u.password,
            database=unquote(u.path.lstrip("/")))
    if path.endswith((".duckdb", ".ddb")):
        return CatalogWriter.duckdb(path)
    if path.endswith((".sqlite", ".sqlite3", ".db")):
        # sniff like provider_for: a .db catalog may be DuckDB-format
        # (META_TYPE 'DUCKDB'; sql/general/metadata_parameters.test)
        try:
            with open(path, "rb") as f:
                if not f.read(16).startswith(b"SQLite format 3"):
                    return CatalogWriter.duckdb(path)
        except FileNotFoundError:
            pass
    return CatalogWriter.sqlite(path)


def _parquet_write_options(settings: Settings, schema_id: int,
                           table_id: int) -> dict[str, str]:
    """DataFrameWriter options for the DuckLake parquet write settings
    (corpus: sql/settings/), resolved with table > schema > global
    precedence: parquet_compression ('uncompressed'|'snappy'|'gzip'|
    'zstd'|'lz4'), parquet_compression_level (zstd), parquet_version
    ('1'|'2' → parquet-mr writer version), parquet_row_group_size_bytes
    (→ parquet.block.size). parquet_row_group_size (a ROW count) is
    stored for DuckDB writers sharing the catalog but has no parquet-mr
    equivalent — Spark's writer splits row groups by bytes."""
    get = lambda k: settings.get(k, schema_id, table_id)  # noqa: E731
    opts: dict[str, str] = {}
    comp = get("parquet_compression")
    if comp:
        # 'lz4' means parquet LZ4_RAW (what DuckDB writes; upstream
        # per_table_settings.test asserts LZ4_RAW) — Spark's bare "lz4"
        # is the deprecated Hadoop-framed codec pyarrow/DuckDB can't read
        opts["compression"] = {"uncompressed": "none",
                               "lz4": "lz4_raw"}.get(comp.lower(),
                                                     comp.lower())
    level = get("parquet_compression_level")
    if level:
        opts["parquet.compression.codec.zstd.level"] = level
    version = get("parquet_version")
    if version:
        opts["parquet.writer.version"] = f"v{version.lstrip('vV')}"
    rg_bytes = get("parquet_row_group_size_bytes")
    if rg_bytes:
        opts["parquet.block.size"] = rg_bytes
    return opts


def _column_defs(schema: T.StructType) -> list[ColumnDef]:
    # a field carrying INTERVAL_MARK (a scan of an interval column, or a
    # user alias(metadata=...)) declares INTERVAL in the catalog; the
    # bare struct shape without the mark stays a struct column — a user
    # struct that merely shares the months/days/micros shape must not be
    # hijacked into interval CTAS
    from .types import INTERVAL_MARK
    return [ColumnDef(f.name,
                      "interval" if (f.metadata or {}).get(INTERVAL_MARK)
                      else spark_to_ducklake_type(f.dataType),
                      f.nullable)
            for f in schema.fields]


def _with_field_ids(df: DataFrame, columns: list) -> DataFrame:
    """Stamp catalog column_ids as parquet field ids so renames stay
    metadata-only (ref: table_writer.rs:303-317); helper columns pass
    through unstamped. Uses alias(metadata=...) for the top level;
    nested struct-field ids (struct evolution — corpus
    sql/alter/struct_evolution*.test) ride in via a cast to the same
    structural type carrying ``parquet.field.id`` metadata on its nested
    StructFields (verified: the parquet writer emits them at any depth).
    ``columns``: the target's ColumnMeta, whose nested_ids give the
    per-path child ids."""
    from pyspark.sql import functions as F
    from .types import annotate_nested_ids
    by_name = {c.column_name: c for c in columns}
    cols = []
    for f in df.schema.fields:
        c, meta = F.col(f.name), by_name.get(f.name)
        if meta is None:
            cols.append(c)
            continue
        if meta.nested_ids:
            c = c.cast(annotate_nested_ids(f.dataType, (),
                                           dict(meta.nested_ids)))
        cols.append(c.alias(f.name, metadata={
            **(f.metadata or {}), "parquet.field.id": meta.column_id}))
    return df.select(*cols)


def _enforce_not_null(df: DataFrame, not_null: list[str]) -> DataFrame:
    """Row-level NOT NULL enforcement INSIDE the write job: raise_error
    fails the stage at the first violating row — one distributed pass, no
    separate pre-scan action (the cost shape of DuckDB's constraint check;
    corpus parity: sql/constraints/not_null.test). Must be applied before
    field-id stamping (the when/otherwise projection drops metadata)."""
    if not not_null:
        return df
    from pyspark.sql import functions as F
    keep = set(not_null)
    return df.select(*[
        F.when(F.col(c).isNull(), F.raise_error(F.lit(
            f"NOT NULL constraint violated: column \"{c}\" contains NULL")))
        .otherwise(F.col(c)).alias(c) if c in keep else F.col(c)
        for c in df.columns])


def _raise_if_constraint(e: Exception):
    """Map a raise_error-failed write job back to the engine's typed
    error; re-raise anything else untouched."""
    if "NOT NULL constraint violated" in str(e):
        import re as _re
        m = _re.search(r"NOT NULL constraint violated: [^\n']*", str(e))
        raise InvalidConfig(m.group(0) if m else
                            "NOT NULL constraint violated") from None
    raise


def footer_size_of(path: str) -> int:
    """Parquet footer size from the trailing 8 bytes: 4-byte little-endian
    metadata length + 'PAR1' magic (ref: table_writer.rs:319-338)."""
    with open(path, "rb") as f:
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
    if tail[4:] != b"PAR1":
        raise InvalidConfig(f"not a parquet file: {path}")
    return int.from_bytes(tail[:4], "little") + 8


def _footer_size_from_tail(tail: bytes, path: str) -> int:
    if tail[4:] != b"PAR1":
        raise InvalidConfig(f"not a parquet file: {path}")
    return int.from_bytes(tail[:4], "little") + 8


class _HadoopFs:
    """Thin wrapper over Spark's Hadoop FileSystem — the object-store-
    capable staging route (ref: the reference writes through object_store,
    table_writer.rs:261-274). Works on any scheme Spark itself can write
    (file://, s3a://, hdfs://, gs://, abfss://); integration-tested via
    file:// since no object store exists offline."""

    def __init__(self, spark, root: str):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        jpath = self._jvm.org.apache.hadoop.fs.Path(root)
        self._fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def list_names(self, dir_path: str) -> list[str]:
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._p(dir_path))]

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise InvalidConfig(f"rename failed: {src} -> {dst}")

    def size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), recursive)

    def list_statuses(self, dir_path: str) -> list[tuple[str, bool]]:
        return [(st.getPath().getName(), bool(st.isDirectory()))
                for st in self._fs.listStatus(self._p(dir_path))]

    def list_files(self, dir_path: str) -> list[tuple[str, int]]:
        """(name, size) for every plain file — one LIST RPC, no
        per-file getFileStatus round trips."""
        return [(st.getPath().getName(), int(st.getLen()))
                for st in self._fs.listStatus(self._p(dir_path))
                if not st.isDirectory()]

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def tail(self, path: str, n: int, size: Optional[int] = None) -> bytes:
        # py4j passes byte[] by value, so readFully(pos, buf) can't hand
        # data back; n is tiny (8 bytes — the parquet footer-length field),
        # so per-byte read() round trips are fine. Pass ``size`` when the
        # file length is already known (from a LIST) to skip one RPC.
        ln = self.size(path) if size is None else size
        stream = self._fs.open(self._p(path))
        try:
            stream.seek(ln - n)
            out = bytearray()
            for _ in range(n):
                b = stream.read()
                if b < 0:
                    break
                out.append(b & 0xFF)
            return bytes(out)
        finally:
            stream.close()


def _local_readable(table_path: str, name: str) -> Optional[str]:
    """Local filesystem path for a just-written file, or None if it lives
    on an object store (stats collection is then skipped — a distributed
    stats job is the object-store refinement)."""
    base = table_path
    if base.startswith("file://"):
        base = base[len("file://"):]
    if "://" in base:
        return None
    return os.path.join(base, name)


def nested_stats_ids(columns) -> dict[str, int]:
    """parquet ``path_in_schema`` → field id for NESTED leaves, built from
    the catalog's per-column nested ids (list element / map key/value /
    struct fields). Feeding these into column_stats_of records min/max
    per nested leaf — the statistics the reference keeps for array and
    struct-array columns (sql/add_files/
    add_files_complex_nested_stats_mre.test). Both the duckdb/Spark
    3-level list spelling (``col.list.element``) and pyarrow's
    (``col.list.item``) are mapped."""
    from .types import _type_kind, nested_child_slots, normalize_ducklake_type
    out: dict[str, int] = {}
    for c in columns:
        for path, fid in (c.nested_ids or ()):
            # walk the canonical type along the path: whether 'key'/'value'
            # is a MAP slot or a struct FIELD NAME depends on the parent
            # type's kind, not the segment spelling
            try:
                cur = normalize_ducklake_type(c.column_type)
            except Exception:
                continue
            segs, item_segs, ok = [c.column_name], [c.column_name], True
            for p in path:
                kind = _type_kind(cur)
                slots = dict(nested_child_slots(cur))
                child = slots.get(p.lower())
                if child is None:
                    ok = False
                    break
                if kind == "list":
                    segs += ["list", "element"]
                    item_segs += ["list", "item"]
                elif kind == "map":
                    segs += ["key_value", p.lower()]
                    item_segs += ["key_value", p.lower()]
                else:
                    segs.append(p)
                    item_segs.append(p)
                cur = child
            if ok:
                out[".".join(segs)] = fid
                out[".".join(item_segs)] = fid
    return out


def column_stats_of(path: str, column_ids: dict[str, int],
                    geo_columns: "set[str] | None" = None) -> list[tuple]:
    """Per-column (column_id, size, value_count, null_count, min, max,
    contains_nan[, extra_stats]) aggregated across row groups, rendered
    as DuckLake stores them (stringified values). Columns without usable
    parquet statistics get NULL min/max — pruning treats that as 'keep'.

    ``geo_columns``: GEOMETRY column names — those get a bbox/types
    ``extra_stats`` JSON from one single-column read of the just-written
    file (geo corpus: sql/geo/ducklake_geometry.test:30-44)."""
    import datetime

    import pyarrow.parquet as pq

    def render(v):
        if v is None:
            return None
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
                else v.isoformat()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    meta = pq.read_metadata(path)
    agg: dict[str, list] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in column_ids:
                continue                      # nested leaf / helper column
            a = agg.setdefault(name, [0, 0, 0, None, None, False])
            a[0] += col.total_compressed_size
            a[1] += col.num_values
            try:
                st = col.statistics
                has = st is not None and st.has_min_max
                mn, mx = (st.min, st.max) if has else (None, None)
            except Exception:
                # pyarrow can't cast stats for some physical types (e.g.
                # FIXED_LEN_BYTE_ARRAY decimals) — record column sizes but
                # no range; pruning treats unknown range as 'keep'
                has = False
            if not has:
                # all-NULL chunk: parquet writes no min/max but the null
                # count is exact — count it and leave the range alone
                # (sql/stats/global_stats.test: a NULL insert must not
                # erase the table envelope's Min/Max)
                try:
                    nc = st.null_count if st is not None else None
                except Exception:
                    nc = None
                if nc is not None and nc == col.num_values:
                    a[2] += nc
                    continue
                a[3] = a[4] = None
                a[5] = True                   # poison: unknown range
                continue
            if a[5]:
                continue
            a[2] += (st.null_count or 0)
            a[3] = mn if a[3] is None or (mn is not None and mn < a[3]) else a[3]
            a[4] = mx if a[4] is None or (mx is not None and mx > a[4]) else a[4]
    out = []
    for name, (size, count, nulls, mn, mx, poison) in agg.items():
        if poison:
            mn = mx = None
        extra = None
        if geo_columns and name in geo_columns:
            from .functions.geo import file_extra_stats
            extra = file_extra_stats(path, name)
        out.append((column_ids[name], size, count, nulls,
                    render(mn), render(mx), None, extra))
    return out


def _finalize_local(staging: str, table_path: str
                    ) -> list[tuple[str, int, int, int]]:
    """Local-FS staging finalize: returns [(name, size, footer, rows)]."""
    import pyarrow.parquet as pq
    staged = []
    for part in sorted(os.listdir(staging)):
        if not part.endswith(".parquet"):
            continue
        final_name = f"ducklake-{uuid.uuid4()}.parquet"
        final_path = os.path.join(table_path, final_name)
        os.rename(os.path.join(staging, part), final_path)
        meta = pq.read_metadata(final_path)
        staged.append((final_name, os.path.getsize(final_path),
                       footer_size_of(final_path), meta.num_rows))
    for leftover in os.listdir(staging):
        os.remove(os.path.join(staging, leftover))
    os.rmdir(staging)
    return staged


def _enumerate_parquet_dir(spark, dir_path: str
                           ) -> list[tuple[str, int, int, int]]:
    """[(name, size, footer, rows)] for every parquet file already in a
    scheme'd directory — object-store discipline: one LIST RPC for
    names+sizes, an 8-byte ranged tail per file for the footer length,
    ONE distributed count-from-footer-stats job for row counts (skipped
    entirely when the directory holds no parquet files, e.g. the
    rewrite of an empty table — spark.read.parquet cannot infer a
    schema from nothing). The driver never downloads payload bytes."""
    from pyspark.sql import functions as F

    fs = _HadoopFs(spark, dir_path)
    files = sorted((n, sz) for n, sz in fs.list_files(dir_path)
                   if n.endswith(".parquet"))
    if not files:
        return []
    counts = {
        r["f"].rsplit("/", 1)[-1]: r["count"]
        for r in (spark.read.parquet(dir_path)
                  .groupBy(F.col("_metadata.file_path").alias("f"))
                  .count().collect())}
    out = []
    for name, sz in files:
        fpath = dir_path.rstrip("/") + "/" + name
        tail = fs.tail(fpath, 8, size=sz)
        out.append((name, sz, _footer_size_from_tail(tail, fpath),
                    int(counts.get(name, 0))))
    return out


def _finalize_hadoop(spark, staging: str, table_path: str
                     ) -> list[tuple[str, int, int, int]]:
    """Hadoop-FS staging finalize (file:// s3a:// hdfs:// gs:// abfss://).

    Row counts come from one distributed metadata job over the staged
    parquet (count-from-footer-stats; no payload read), sizes from one
    LIST, footer sizes from an 8-byte ranged tail read — the driver
    never downloads file contents, matching the reference's object_store
    discipline (table_writer.rs:261-274). Size/footer/rows are measured
    BEFORE the rename (they are rename-invariant), so an empty staging
    dir finalizes to zero files instead of crashing schema inference."""
    fs = _HadoopFs(spark, table_path)
    staged = []
    for part, size, footer, rows in _enumerate_parquet_dir(spark, staging):
        final_name = f"ducklake-{uuid.uuid4()}.parquet"
        final_path = table_path.rstrip("/") + "/" + final_name
        fs.rename(staging.rstrip("/") + "/" + part, final_path)
        staged.append((final_name, size, footer, rows))
    fs.delete(staging, recursive=True)
    return staged


_PART_PREFIX = "__part_"


def _partition_keys(spec: list, id_to_name: dict) -> list[tuple]:
    """Live-spec staging keys as (base_column, transform, dir_key)
    triples. dir_key is the hive directory name: the column name for
    identity, the transform name otherwise (DuckDB's layout —
    year=2020/month=1; corpus: sql/partitioning/year_month_day.test)."""
    out = []
    for _idx, cid, tf in spec:
        if cid not in id_to_name:
            continue
        name = id_to_name[cid]
        out.append((name, tf, name if tf == "identity" else tf))
    return out


def _partition_expr(base_col: str, transform: str):
    """Staging Column for one partition key (string-typed hive value)."""
    from pyspark.sql import functions as F
    col = F.col(base_col)
    fns = {"identity": lambda c: c, "year": F.year, "month": F.month,
           "day": F.dayofmonth, "hour": F.hour}
    if transform not in fns:
        raise InvalidConfig(
            f"unsupported partition transform {transform!r} "
            "(identity/year/month/day/hour)")
    return fns[transform](col).cast("string")


def _parse_part_segs(segs: list[str], key_names: list[str]):
    """Hive staging dir segments (__part_<i>=<escaped>) → ([(key_index,
    value|None)], final subdir segments using the REAL column names —
    the hive-style layout DuckDB's writer produces)."""
    from urllib.parse import unquote
    pvals, subsegs = [], []
    for seg in segs:
        k, _, v = seg.partition("=")
        idx = int(k[len(_PART_PREFIX):])
        val = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
        pvals.append((idx, val))
        subsegs.append(f"{key_names[idx]}={v}")
    return pvals, subsegs


def _hive_file_pattern(settings: Settings, table_id: int,
                       schema_id: Optional[int]) -> bool:
    """The ``hive_file_pattern`` scoped option (sql/partitioning/
    disable_hive_partitioning.test): False writes a partitioned table's
    files FLAT in the table dir — partition values still register in the
    catalog, so pruning is unaffected; only the directory layout
    changes. Default True (hive-style key=value subdirs)."""
    v = settings.get("hive_file_pattern", schema_id, table_id)
    return v is None or str(v).strip().lower() not in (
        "false", "0", "no", "f")


def _finalize_partitioned_local(staging: str, table_path: str,
                                key_names: list[str],
                                hive_dirs: bool = True) -> list[tuple]:
    """[(final_relpath, size, footer, rows, [(key_index, value)])] for a
    hive-partitioned staging dir on the local FS. ``hive_dirs`` False
    drops the key=value subdirs (flat layout; catalog values only)."""
    import shutil

    import pyarrow.parquet as pq
    staged = []
    for root, _dirs, files_ in sorted(os.walk(staging)):
        parts = sorted(p for p in files_ if p.endswith(".parquet"))
        if not parts:
            continue
        rel = os.path.relpath(root, staging)
        segs = [] if rel == "." else rel.split(os.sep)
        pvals, subsegs = _parse_part_segs(segs, key_names)
        if not hive_dirs:
            subsegs = []
        os.makedirs(os.path.join(table_path, *subsegs), exist_ok=True)
        for part in parts:
            final_name = "/".join(
                subsegs + [f"ducklake-{uuid.uuid4()}.parquet"])
            final_path = os.path.join(table_path, final_name)
            os.rename(os.path.join(root, part), final_path)
            staged.append((final_name, os.path.getsize(final_path),
                           footer_size_of(final_path),
                           pq.read_metadata(final_path).num_rows, pvals))
    shutil.rmtree(staging)
    return staged


def _finalize_partitioned_hadoop(spark, staging: str, table_path: str,
                                 key_names: list[str],
                                 hive_dirs: bool = True) -> list[tuple]:
    """Object-store variant: recursive FileSystem walk, distributed
    footer row counts, ranged tail reads — driver never downloads
    payload bytes."""
    from pyspark.sql import functions as F

    fs = _HadoopFs(spark, table_path)
    # key counts by the path RELATIVE to the staging root, not the
    # basename: Spark's dynamic-partition writer resets its file counter
    # per partition dir, so two partition dirs can hold files with
    # IDENTICAL basenames and a basename map would register one file
    # with the other's record_count (corrupting rowid ranges)
    stage_base = staging.rstrip("/").rsplit("/", 1)[-1]

    def _relkey(p: str) -> str:
        i = p.find("/" + stage_base + "/")
        return p[i + len(stage_base) + 2:] if i >= 0 \
            else p.rsplit("/", 1)[-1]

    counts = {
        _relkey(r["f"]): r["count"]
        for r in (spark.read.parquet(staging)
                  .groupBy(F.col("_metadata.file_path").alias("f"))
                  .count().collect())}

    staged = []

    def walk(dir_path: str, segs: list[str]):
        entries = sorted(fs.list_statuses(dir_path))
        parts = [n for n, is_dir in entries
                 if not is_dir and n.endswith(".parquet")]
        if parts:
            pvals, subsegs = _parse_part_segs(segs, key_names)
            if not hive_dirs:
                subsegs = []
            if subsegs:
                fs.mkdirs(table_path.rstrip("/") + "/" + "/".join(subsegs))
            for part in parts:
                final_name = "/".join(
                    subsegs + [f"ducklake-{uuid.uuid4()}.parquet"])
                final_path = table_path.rstrip("/") + "/" + final_name
                fs.rename(dir_path.rstrip("/") + "/" + part, final_path)
                staged.append((final_name, fs.size(final_path),
                               _footer_size_from_tail(
                                   fs.tail(final_path, 8), final_path),
                               int(counts.get("/".join(segs + [part]), 0)),
                               pvals))
        for n, is_dir in entries:
            if is_dir and n.startswith(_PART_PREFIX):
                walk(dir_path.rstrip("/") + "/" + n, segs + [n])

    walk(staging, [])
    fs.delete(staging, recursive=True)
    return staged


@dataclass(frozen=True)
class WriteTarget:
    """The table a write lands in, as staging and registration read it:
    ids, data directory, columns (provider ColumnMeta in file column
    order — ids, types, NOT NULL, nested ids) and the live partition
    spec [(key_index, column_id, transform)]. ``target_of`` gives it for
    a bound table; ``_plan_write`` for a write that may create the table
    or version its columns."""
    table_id: int
    schema_id: Optional[int]
    table_path: str
    columns: list
    spec: list


@dataclass(frozen=True)
class StagedFile:
    """A finalized data file in the table directory that no catalog row
    names yet. ``row_id_start`` None takes the table's next rowids at
    registration; a ``rowid_in_file`` file carries its rowids in the
    reserved column and registers with none."""
    path: str                        # relative to the table directory
    size: int
    footer: int
    rows: int
    pvals: Optional[list] = None     # [(partition_key_index, value)]
    key: Optional[str] = None        # PME footer key (encrypted catalogs)
    row_id_start: Optional[int] = None
    rowid_in_file: bool = False


def target_of(session, handle) -> WriteTarget:
    """WriteTarget of a bound table (DML, flush, compaction)."""
    tid = handle.meta.table_id
    rows = session.provider._fetchall(
        "SELECT schema_id FROM ducklake_table "
        "WHERE table_id = ? AND end_snapshot IS NULL", (tid,))
    return WriteTarget(
        tid, int(rows[0][0]) if rows else None, handle.table_path,
        list(handle.columns),
        session.provider.get_partition_columns(tid, handle.snapshot_id))


class _Planned(Exception):
    """Carries a write's setup out of the transaction that rolls it
    back."""


def _plan_write(session, writer, setup) -> WriteTarget:
    """The WriteTarget a write will commit into, before anything is
    staged. ``setup(writer)`` is the write's begin_write_transaction;
    it runs against the head inside a ``_txn`` that is rolled back, so
    the ids, nested ids, types, NOT NULL set and table path come from
    the one copy of the column-versioning rules and nothing persists
    (``_txn`` also keeps the rolled-back snapshot id out of the
    session's rollback scope). The commit runs ``setup`` again and
    ``_expect_planned`` refuses it if the columns came out different."""
    try:
        with writer._txn():
            raise _Planned(setup(writer))
    except _Planned as p:
        planned = p.args[0]
    resolver = session.catalog.resolver
    table_path = resolver.table_path(
        resolver.schema_path(*planned.schema_path), *planned.table_path)
    spec = session.provider.get_partition_columns(
        planned.table_id, session.provider.get_current_snapshot())
    return WriteTarget(planned.table_id, planned.schema_id, table_path,
                       planned.columns, spec)


def _expect_planned(target: WriteTarget, setup) -> None:
    """Optimistic check at commit: the staged files carry the planned
    field ids, so a commit whose setup resolves other columns (a
    concurrent CREATE, ALTER or schema-changing write in between) is
    refused, like ``expect_live_member`` refuses a stale rewrite."""
    from .errors import TransactionConflict
    if setup.table_id != target.table_id or setup.columns != target.columns:
        raise TransactionConflict(
            "transaction conflict: the table's columns changed while the "
            "write was staged; retry the statement")


def _file_split(session, settings: Settings, target: WriteTarget,
                out: DataFrame, per_thread: Optional[bool]) -> DataFrame:
    """One file per write by default (DuckLake's one-file-per-insert
    contract, the reference's collect-to-one-batch shape). With
    target_file_size (sql/insert/insert_file_size.test) a large write
    splits into ~target-sized files: Catalyst's plan-stats sizeInBytes
    is the estimate — no extra job; in-memory row width overestimates
    the compressed parquet, so the split errs toward MORE files, never
    a too-big one. per_thread_output (sql/settings/
    per_thread_output.test), or ``per_thread`` from the caller, keeps
    the plan's write parallelism — one file per Spark partition."""
    get = lambda k: settings.get(  # noqa: E731
        k, target.schema_id, target.table_id)
    n_out = 1
    target_raw = get("target_file_size")
    if target_raw:
        size = session._parse_size(target_raw)
        try:
            est = int(str(out._jdf.queryExecution()
                          .optimizedPlan().stats().sizeInBytes()))
        except Exception:
            est = 0
        if est > 0 and size > 0:
            n_out = max(1, min(4096, -(-est // size)))
    if per_thread is None:
        per_thread = (get("per_thread_output") or "").lower() in ("true", "1")
    if per_thread and n_out <= 1:
        return out
    return out.repartition(n_out) if n_out > 1 else out.coalesce(1)


def stage_files(session, target: WriteTarget, df: DataFrame, *,
                settings: Settings, include_rowid: bool = False,
                include_snapshot: bool = False, runs: Optional[list] = None,
                per_thread: Optional[bool] = None) -> list[StagedFile]:
    """Write ``df``'s rows as finalized parquet in the table directory
    WITHOUT registering them — every write that creates data files
    stages here first and commits in one catalog transaction after. A
    crash, a failed job or a refused commit leaves unregistered files
    (``delete_orphaned_files`` reclaims them), never a changed catalog.
    The records carry the row counts, so no .count() pre-action runs.

    The file contents: the target's columns with their field ids and
    NOT NULL enforced inside the write job, plus with ``include_rowid``
    each row's ``rowid`` as the reserved in-file rowid column — the
    stable-rowid rewrites of UPDATE, flush and merge — and with
    ``include_snapshot`` its ``__begin_snapshot`` as the in-file
    snapshot column, so a rewrite keeps each row's insertion snapshot.
    The table's parquet write settings, from the statement's
    ``settings`` read, apply (compression, version, row-group bytes) and
    the file split of ``_file_split``.

    The writer: INTERVAL tables stage through the duckdb-backed
    executor writer (the only local route to the parquet INTERVAL type);
    encrypted catalogs PME-write each file with its own key; otherwise
    Spark's parquet writer into a staging directory, split by the live
    partition spec so each file records its partition values.

    ``runs`` (rewrite_file_groups): [(run id, row_id_start, rows,
    partition values)]; ``df`` carries a ``__run`` column and each run
    becomes exactly one file registered at its own row_id_start."""
    from pyspark.sql import functions as F

    from .sources.scan import ROWID_FILE_COL, SNAPSHOT_FILE_COL
    data_cols = [c.column_name for c in target.columns]
    extra = []
    if include_rowid:
        extra.append(F.col("rowid").cast("long").alias(ROWID_FILE_COL))
    if include_snapshot:
        extra.append(F.col("__begin_snapshot").cast("long")
                     .alias(SNAPSHOT_FILE_COL))
    if runs is not None:
        extra.append(F.col("__run"))
    not_null = [c.column_name for c in target.columns if not c.nulls_allowed]
    out = _with_field_ids(
        _enforce_not_null(df.select(*data_cols, *extra), not_null),
        target.columns)
    session.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    part_keys = [] if runs is not None else _partition_keys(
        target.spec, {c.column_id: c.column_name for c in target.columns})
    if runs is None:
        out = _file_split(session, settings, target, out, per_thread)
    table_path = target.table_path

    def staged(name, size, footer, rows, pvals=None, key=None):
        return StagedFile(name, size, footer, rows, pvals or None, key,
                          rowid_in_file=include_rowid)

    encrypted = (settings.get("encrypted") or "").lower() in ("true", "1")
    iv_cols = [c.column_name for c in target.columns
               if is_interval_type(c.column_type)]
    if runs is not None and (iv_cols or encrypted):
        raise InvalidConfig(
            "rowid-run rewrites stage through Spark's parquet writer, which "
            "writes neither INTERVAL nor encrypted files")
    if iv_cols:
        # rowid/snapshot rider columns pass through as plain longs
        if encrypted:
            raise InvalidConfig(
                "INTERVAL columns in an encrypted catalog are not "
                "writable (the PME writer cannot emit the parquet "
                "INTERVAL logical type)")
        if part_keys:
            raise InvalidConfig(
                "writes into a partitioned table with INTERVAL columns "
                "are not supported")
        return [staged(r["name"], r["size"], r["footer"], r["rows"])
                for r in _write_interval_distributed(out, table_path,
                                                     iv_cols)]
    if encrypted:
        from .sources.encryption import (write_encrypted_distributed,
                                         write_encrypted_partitioned)
        if not part_keys:
            return [staged(r["name"], r["size"], r["footer"], r["rows"],
                           key=r["key"])
                    for r in write_encrypted_distributed(out, table_path)]
        # per-combo files land FLAT (no value-leaking path segments);
        # each file's combo registers as catalog rows
        # (sql/encryption/partitioning_encryption.test)
        import json
        pk_cols = [f"{_PART_PREFIX}{i}" for i in range(len(part_keys))]
        for c, (base, tf, _dk) in zip(pk_cols, part_keys):
            out = out.withColumn(c, _partition_expr(base, tf))
        return [staged(r["name"], r["size"], r["footer"], r["rows"],
                       list(enumerate(json.loads(r["pvals"]))), r["key"])
                for r in write_encrypted_partitioned(
                    out.repartition(*pk_cols), table_path, pk_cols)]

    # Partition spec (sql/partitioning/ corpus): the partition columns
    # are DUPLICATED into __part_<i> staging keys so the data files stay
    # self-contained (partitionBy drops its keys from file contents;
    # DuckLake files must carry every column).
    keys = ["__run"] if runs is not None else []
    for i, (base, tf, _dk) in enumerate(part_keys):
        out = out.withColumn(f"{_PART_PREFIX}{i}", _partition_expr(base, tf))
        keys.append(f"{_PART_PREFIX}{i}")
    staging = table_path.rstrip("/") + f"/stage-{uuid.uuid4().hex}"
    dfw = out.write.options(**_parquet_write_options(
        settings, target.schema_id, target.table_id))
    try:
        (dfw.partitionBy(*keys) if keys else dfw).parquet(
            staging, mode="errorifexists")
    except Exception as e:
        _raise_if_constraint(e)

    # move part files to UUID names in the table dir (hive-style subdirs
    # for partitioned tables). Scheme'd paths go through the Hadoop FS
    # API (object-store-capable); bare local paths take the direct
    # os/pyarrow route.
    remote = "://" in table_path
    if runs is not None:
        return [StagedFile(name, size, footer, cnt, pv or None,
                           row_id_start=int(start))
                for (name, size, footer), (_r, start, cnt, pv) in zip(
                    _finalize_compact_runs(session, staging, table_path,
                                           runs), runs)]
    if part_keys:
        dir_keys = [dk for _b, _t, dk in part_keys]
        hive = _hive_file_pattern(settings, target.table_id,
                                  target.schema_id)
        files = (_finalize_partitioned_hadoop(
            session.spark, staging, table_path, dir_keys, hive_dirs=hive)
            if remote else _finalize_partitioned_local(
                staging, table_path, dir_keys, hive_dirs=hive))
        return [staged(*f) for f in files]
    files = (_finalize_hadoop(session.spark, staging, table_path) if remote
             else _finalize_local(staging, table_path))
    return [staged(*f) for f in files]


def register_files(writer, snapshot_id: int, target: WriteTarget,
                   staged: list, keep_empty: bool = False) -> int:
    """Register staged files into ``snapshot_id`` — the one data-file
    registration of every write, run inside the write's commit
    transaction: the table's next rowid is read there, so concurrent
    appends never share rowids. Each file records its partition values
    and, when its footer is locally readable and unencrypted, its column
    stats (nested leaves included); encrypted files keep none, since
    catalog min/max would leak the payload. Zero-row files (Spark's
    writer leaves one for an empty input) stay unregistered unless
    ``keep_empty``: an INSERT lands its file even when it holds no row.
    Returns the rows registered."""
    staged = [f for f in staged if f.rows or keep_empty]
    if not staged:
        return 0
    tid = target.table_id
    ids = {c.column_name: c.column_id for c in target.columns}
    stats_ids = {**ids, **nested_stats_ids(target.columns)}
    geo = {c.column_name for c in target.columns
           if is_geometry_type(c.column_type)}
    mid = None
    if any(is_interval_type(c.column_type) for c in target.columns):
        # the duckdb writer stamps no parquet field ids: the files resolve
        # through an identity name mapping (the add_files contract), so a
        # later RENAME keeps them readable
        mid = writer.create_name_mapping(tid, list(ids), list(ids.values()))
    fresh = any(f.row_id_start is None and not f.rowid_in_file
                for f in staged)
    next_rowid = writer.next_row_id(tid) if fresh else None
    n_rows = 0
    for f in staged:
        start = f.row_id_start
        if start is None and not f.rowid_in_file:
            start, next_rowid = next_rowid, next_rowid + f.rows
        fid = writer.register_data_file(tid, snapshot_id, DataFileInfo(
            path=f.path, path_is_relative=True, file_size_bytes=f.size,
            footer_size=f.footer, record_count=f.rows, row_id_start=start,
            mapping_id=mid, encryption_key=f.key))
        if f.pvals:
            writer.register_file_partition_values(fid, tid, f.pvals)
        local = _local_readable(target.table_path, f.path)
        if local is not None and f.key is None:
            writer.register_file_column_stats(
                fid, tid, column_stats_of(local, stats_ids, geo))
        n_rows += f.rows
    return n_rows


MAX_COMPACT_RUNS = 256


def _live_runs(session, groups: list, cap: int) -> list[tuple[int, int, int]]:
    """[(group index, start rowid, count)] of the groups' contiguous LIVE
    rowid runs, in group then rowid order; it stops at ``cap + 1`` runs.

    A member's live rows are the clear bits of its deletion vector (word
    ``pos >> 6``, bit ``pos & 63``), taken from ``scan.deletion_vectors``
    keyed by the member's ResolvedFile, never by a file name; they are
    offset by the member's row_id_start, and runs that touch merge within
    a group, never across groups. The driver holds only the
    record_count/64 words per file that the rewrite's own scan loads for
    its delete filter, and unpacks them a slice at a time — never a
    position list."""
    import numpy as np

    from .sources.scan import deletion_vectors

    def spans(words, n: int):
        if words is None:
            yield from [(0, n)] if n else []
            return
        step = 1 << 20            # rows unpacked at once (a multiple of 64)
        for lo in range(0, n, step):
            dead = np.unpackbits(
                words[lo >> 6:(lo + step) >> 6].astype("<i8").view(np.uint8),
                bitorder="little")[:n - lo]
            # padded with dead rows, so edges alternate run start, run end
            edges = np.flatnonzero(np.diff(dead, prepend=1, append=1))
            yield from zip((lo + edges[::2]).tolist(),
                           (edges[1::2] - edges[::2]).tolist())

    vectors = deletion_vectors(
        session.spark, {rf: rf for group in groups for _mf, rf in group})
    runs: list[tuple[int, int, int]] = []
    for gi, group in enumerate(groups):
        for mf, rf in sorted(group, key=lambda m: m[0].row_id_start):
            for s, c in spans(vectors.get(rf), mf.record_count):
                start = mf.row_id_start + s
                if runs and runs[-1][0] == gi \
                        and runs[-1][1] + runs[-1][2] == start:
                    runs[-1] = (gi, runs[-1][1], runs[-1][2] + c)
                    continue
                runs.append((gi, start, c))
                if len(runs) > cap:
                    return runs
    return runs


def compact_table(session, name: str,
                  max_runs: int = MAX_COMPACT_RUNS) -> int:
    """Rewrite a table's live rows into clean files, PRESERVING virtual
    rowids (ADVICE r1: real DuckLake keeps rowids stable through
    rewrites; naively re-registering loses them and shows compaction as
    delete+insert in CDC).

    Mechanism: rowid = row_id_start + file position, so an output file
    can only carry rows whose rowids are CONTIGUOUS. An unpartitioned
    table whose files all carry row_id_start is one group of
    rewrite_file_groups: deletions punch holes, splitting the survivors
    into runs, and each run becomes one output file registered with
    row_id_start = run start. Tables whose deletion pattern shatters
    them into more than ``max_runs`` runs are refused — compact with
    ``preserve_rowids=False`` to renumber. A partitioned table compacts
    per partition-value chain through the same rewrite. Tables with
    INTERVAL columns or with in-file rowids (UPDATE outputs) are one
    group of merge_groups_rowid_column: one output file carrying rowids
    and per-row snapshot ids in-file.

    Either way the outputs are staged first and registered in one
    catalog transaction that checks every member is still live with the
    delete file the rewrite read (a concurrent DELETE or rewrite aborts
    it), so a failed or conflicting compaction leaves the table as it
    was. Tables
    without rowids (files lacking row_id_start, e.g. foreign fixtures)
    take the plain rewrite path unchanged.

    Scale: run discovery reads ONLY the catalog + the members' deletion
    vectors (_live_runs) — no full-table sort — and refuses as soon as
    it finds max_runs+1 runs. Rows then assign to runs with a broadcast
    range join (≤ max_runs ranges)."""
    handle = session.table_handle(name)
    if handle.inlined_tables and handle.inlined_rows():
        raise InvalidConfig(
            "compact over tables with live inlined data rows is not "
            "supported — call flush_inlined_data() first")
    members = list(zip(handle._raw_files, handle.files))
    iv_table = any(is_interval_type(c.column_type) for c in handle.columns)
    if iv_table and not members:
        return 0
    if any(f.encryption_key is not None for f in handle.files):
        raise InvalidConfig(
            "compact with rowid preservation over encrypted tables is not "
            "supported — compact(preserve_rowids=False) rewrites "
            "encrypted (fresh rowids)")
    if iv_table or any(f.row_id_start is None for f in handle.files):
        # the run path needs contiguous start-based ranges and writes via
        # Spark's parquet writer, which cannot emit INTERVAL: UPDATE-
        # rewritten files and INTERVAL tables (duckdb-backed staging, r9)
        # carry their rowids through the rewrite as the reserved in-file
        # column instead
        from .operators.dml import rowids_preservable
        if members and rowids_preservable(handle):
            return merge_groups_rowid_column(session, name, [members],
                                             op="compact")
        return create_or_insert(session, name, session.table(name),
                                mode="overwrite", maintenance=True)

    if session.provider.get_partition_columns(handle.meta.table_id,
                                              handle.snapshot_id):
        # live partition spec: a cross-partition rewrite would strip the
        # outputs' exact partition values (pruning loss). Compact becomes
        # per-partition adjacent-chain rewrites instead (pv carried).
        groups = partition_chains(session, handle)
        if not groups:
            return 0
        return rewrite_file_groups(session, name, groups, op="compact")
    return rewrite_file_groups(session, name, [members], max_runs=max_runs,
                               op="compact")


def _interval_dest_uri(dest_dir: str) -> "str | None":
    """None for posix/file:// table paths (the direct local write). For
    an object-store path, the pyarrow-FileSystem URI the executor tasks
    upload through: s3a:// (Hadoop's S3 scheme) maps to pyarrow's
    s3://; gs/hdfs pass through; anything else fails driver-side with a
    clean error before any job runs. SPARK_GRAFT_MOCK_OBJECT_STORE=<dir>
    reroutes s3/s3a URIs to file://<dir>/<bucket-and-path> — the tests'
    mock object store: the task still resolves FileSystem.from_uri and
    streams through open_output_stream, the identical upload code path
    as real S3 with a local client behind it."""
    if "://" not in dest_dir or dest_dir.startswith("file://"):
        return None
    scheme, rest = dest_dir.split("://", 1)
    scheme = scheme.lower()
    if scheme in ("s3", "s3a"):
        mock = os.environ.get("SPARK_GRAFT_MOCK_OBJECT_STORE")
        if mock:
            return "file://" + os.path.join(mock, rest)
        return "s3://" + rest
    if scheme in ("gs", "gcs", "hdfs", "viewfs"):
        return dest_dir
    from .errors import InvalidConfig
    raise InvalidConfig(
        f"interval writes to {scheme}:// table paths are not supported "
        f"(no executor-side pyarrow FileSystem client for this scheme); "
        f"use add_files or a local/s3a/gs/hdfs table path")


def _write_interval_distributed(df: DataFrame, dest_dir: str,
                                iv_cols: list[str]) -> list[dict]:
    """Write a DataFrame holding interval columns (months/days/micros
    struct representation) as parquet files carrying the REAL parquet
    INTERVAL logical type, one file per non-empty partition, written
    INSIDE executor tasks through an embedded DuckDB ``COPY`` — the one
    local engine that emits FLBA(12)/INTERVAL (r9 probe: pyarrow 16
    raises ArrowNotImplementedError on month_day_nano_interval, and
    df.write.parquet has no interval column type; reference writes
    interval natively via its Arrow writer, src/types.rs:95-164). Same
    distributed shape as write_encrypted_distributed: the driver never
    touches payload bytes, the returned manifest is a tiny per-file
    collect.

    Parity notes: sub-millisecond micros truncate (parquet INTERVAL
    stores millis; DuckDB's own COPY truncates identically), NULL struct
    → NULL interval, NULL components coalesce to 0, and negative
    components fail loudly inside the task with DuckDB's own "Parquet
    files do not support negative intervals".

    Object-store table paths (r10, reference parity
    src/table_writer.rs:261-274 — write buffer → object_store.put): the
    COPY stages to EXECUTOR-local tmp, then the task streams the bytes
    up through a pyarrow FileSystem resolved from the destination URI
    (s3a:// translated to pyarrow's s3://). The Hadoop FileSystem API
    the driver-side paths use is py4j-only and unreachable from an
    executor's Python worker, so the executor-side client is pyarrow's
    native one — same object-store discipline (the driver still never
    touches payload bytes). Posix and file:// paths keep the direct
    local write."""
    fs_uri = _interval_dest_uri(dest_dir)
    base = None
    if fs_uri is None:
        base = dest_dir[len("file://"):] \
            if dest_dir.startswith("file://") else dest_dir
    iv = set(iv_cols)

    def q(name: str) -> str:
        return '"' + name.replace('"', '""') + '"'

    cols_sql = ", ".join(
        (f"CASE WHEN {q(c)} IS NULL THEN NULL ELSE "
         f"to_months(COALESCE({q(c)}.months, 0)) "
         f"+ to_days(COALESCE({q(c)}.days, 0)) "
         f"+ to_microseconds(COALESCE({q(c)}.micros, 0)) END AS {q(c)}")
        if c in iv else q(c)
        for c in df.columns)

    def write_part(batch_iter):
        import os as _os
        import shutil as _shutil
        import tempfile as _tempfile
        import uuid as _uuid

        import duckdb as _duckdb
        import pyarrow as pa
        batches = [b for b in batch_iter]
        rows = sum(b.num_rows for b in batches)
        if rows == 0:
            return
        tbl = pa.Table.from_batches(batches)
        name = f"ducklake-{_uuid.uuid4()}.parquet"
        tmpdir = None
        if fs_uri is None:
            path = _os.path.join(base, name)
            _os.makedirs(base, exist_ok=True)
        else:
            tmpdir = _tempfile.mkdtemp(prefix="ducklake-iv-")
            path = _os.path.join(tmpdir, name)
        try:
            con = _duckdb.connect()
            try:
                con.register("__iv_batch", tbl)
                con.execute(
                    f"COPY (SELECT {cols_sql} FROM __iv_batch) "
                    f"TO '{path.replace(chr(39), chr(39) * 2)}' "
                    f"(FORMAT PARQUET)")
            finally:
                con.close()
            size = _os.path.getsize(path)
            with open(path, "rb") as f:
                f.seek(-8, 2)
                tail = f.read(8)
            if tail[4:] != b"PAR1":
                # a truncated/partial COPY output must fail loudly inside
                # the task, not register a garbage footer_size (matches
                # _footer_size_from_tail's magic check)
                raise IOError(
                    f"staged interval file {name!r} is not a complete "
                    f"parquet file (missing PAR1 magic)")
            footer = int.from_bytes(tail[:4], "little") + 8
            if fs_uri is not None:
                from pyarrow import fs as _pafs
                fs, inner = _pafs.FileSystem.from_uri(fs_uri)
                try:
                    fs.create_dir(inner, recursive=True)
                except Exception:
                    pass        # object stores have no real directories
                dest = inner.rstrip("/") + "/" + name
                with open(path, "rb") as src, \
                        fs.open_output_stream(dest) as out:
                    _shutil.copyfileobj(src, out, 1 << 20)
        finally:
            if tmpdir is not None:
                _shutil.rmtree(tmpdir, ignore_errors=True)
        yield pa.RecordBatch.from_pydict({
            "name": [name], "rows": [rows], "size": [size],
            "footer": [footer]})

    try:
        manifest = df.mapInArrow(
            write_part, "name string, rows long, size long, footer long"
        ).collect()
    except Exception as e:
        # NOT NULL violations raised by _enforce_not_null inside the
        # write job must surface as the engine's constraint error here
        # too, not as a raw executor exception (r9 review finding);
        # _raise_if_constraint re-raises everything else untouched
        _raise_if_constraint(e)
    return [r.asDict() for r in manifest]


def partition_chains(session, handle, target: "int | None" = None,
                     adjacency: bool = True) -> list:
    """Groups for partition-aware maintenance: bucket live files by their
    exact partition-value tuple, chain files within each bucket capped
    at ``target`` bytes. ``adjacency=True`` additionally breaks a chain
    at every rowid gap (outputs register with contiguous row_id_start —
    the classic path); ``adjacency=False`` packs a whole bucket
    regardless of gaps (the upstream merge shape —
    compaction_partitioned_non_adjacent.test — whose outputs must carry
    rowids in-file). Returns only the groups worth rewriting: >1 member
    or delete debt."""
    pv_map = session.provider.get_file_partition_values(
        handle.meta.table_id)
    members = sorted(zip(handle._raw_files, handle.files),
                     key=lambda pr: pr[0].row_id_start)
    buckets: dict = {}
    for mf, rf in members:
        key = tuple(sorted(pv_map.get(mf.data_file_id, {}).items()))
        buckets.setdefault(key, []).append((mf, rf))
    groups = []
    for _key, bucket in sorted(buckets.items()):
        cur, cur_bytes = [], 0
        for mf, rf in bucket:
            sz = mf.file_size_bytes or 0
            adjacent = bool(cur) and (
                cur[-1][0].row_id_start + (cur[-1][0].record_count or 0)
                == mf.row_id_start)
            if cur and ((adjacency and not adjacent) or (
                    target is not None and cur_bytes + sz > target)):
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append((mf, rf))
            cur_bytes += sz
        if cur:
            groups.append(cur)
    return [g for g in groups
            if len(g) > 1 or any(rf.delete_uri for _, rf in g)]


def group_is_contiguous(group: list) -> bool:
    """True when the group's member files form one gapless rowid chain
    (every member catalog-started)."""
    prev_end = None
    for mf, _rf in group:
        if mf.row_id_start is None:
            return False
        if prev_end is not None and mf.row_id_start != prev_end:
            return False
        prev_end = mf.row_id_start + (mf.record_count or 0)
    return True


def merge_groups_rowid_column(session, name: str, groups: list,
                              op: str = "merge_adjacent_files") -> int:
    """Merge arbitrary (non-contiguous) groups of a table's files into
    ONE output file per group, preserving BOTH virtual rowids and
    per-row snapshot_ids via the reserved in-file columns
    (row_id_start NULL) — the upstream merge contract for partitioned
    tables whose per-value files interleave in rowid order
    (sql/compaction/compaction_partitioned_non_adjacent.test: rowid AND
    snapshot_id survive the merge). Stage first, then end the members
    and register the outputs in one maintenance transaction behind
    ``expect_live_member`` (orphans on crash or conflict, never
    corruption); the snapshot is labeled compacted_table so CDC stays
    silent."""
    from pyspark.sql import functions as F

    from .sources.scan import scan_table

    handle = session.table_handle(name)
    target = target_of(session, handle)
    settings = session.provider.settings()
    staged = []
    for group in groups:
        df = scan_table(session.spark, handle.spark_schema,
                        [rf for _mf, rf in group], with_virtual=True)
        df = df.select(*[c.column_name for c in handle.columns], "rowid",
                       F.col("snapshot_id").alias("__begin_snapshot"))
        staged += stage_files(session, target, df, include_rowid=True,
                              include_snapshot=True, settings=settings)

    writer = _catalog_writer(session, settings)
    try:
        with writer._txn():
            snap = _end_members(writer, handle.meta.table_id,
                                [m for g in groups for m in g])
            n_rows = register_files(writer, snap, target, staged)
        session.refresh(settings)
        return n_rows
    finally:
        writer.close()


def _end_members(writer, table_id: int, members: list) -> int:
    """Open the rewrite's compacted_table snapshot and end every member
    data file and its delete file in it, inside the caller's transaction.
    Optimistic concurrency: the rewrite read each member as a live data
    file with its CURRENT delete file; a member that a concurrent rewrite
    ended, or whose delete file a concurrent DML superseded or added,
    aborts it. The label is a maintenance marker, not a data change: CDC
    (operators/cdc.py) skips compacted_table snapshots, so a rewrite
    never re-reports rows as inserted/deleted (upstream table_changes is
    silent across compaction too)."""
    snap = writer.create_snapshot([f"compacted_table:{table_id}"])
    for mf, _rf in members:
        writer.expect_live_member(
            mf.data_file_id,
            mf.delete_file.delete_file_id if mf.delete_file else None)
        writer.end_delete_file(mf.data_file_id, snap)
        writer.end_data_file(mf.data_file_id, snap)
    return snap


def rewrite_data_files(session, name: str, max_runs: int = 512,
                       delete_threshold: "float | None" = None) -> int:
    """Selective MOR-debt rewrite — the corpus's
    ``CALL ducklake_rewrite_data_files`` (sql/rewrite_data_files/):
    rewrite ONLY the data files carrying a live delete file; clean files
    keep their catalog registration untouched. ``delete_threshold``
    further gates on the deleted fraction (catalog delete_count /
    record_count — no file reads), skipping barely-dirty files whose
    rewrite would cost more I/O than the debt it retires. At 100 TB the
    cost is proportional to the DIRTY byte count above the threshold,
    never the table size (compact() rewrites everything). Each dirty
    file is its own group — see rewrite_file_groups for the mechanism."""
    handle = session.table_handle(name)
    pairs = [(mf, rf) for mf, rf in zip(handle._raw_files, handle.files)
             if rf.delete_uri is not None]
    if delete_threshold is not None and delete_threshold > 0:
        def _frac(mf):
            dc = mf.delete_file.delete_count if mf.delete_file else None
            if dc is None or not mf.record_count:
                return 1.0      # unknown debt: rewrite (conservative)
            return dc / mf.record_count
        pairs = [p for p in pairs if _frac(p[0]) >= delete_threshold]
    if not pairs:
        return 0
    # rowid-in-file members (row_id_start NULL — gapped-merge outputs)
    # can't re-register as contiguous runs; their surviving rows rewrite
    # through the rowid-column path instead, one group per dirty file
    started = [p for p in pairs if p[0].row_id_start is not None]
    infile = [p for p in pairs if p[0].row_id_start is None]
    from .types import is_interval_type
    if any(is_interval_type(c.column_type) for c in handle.columns):
        # interval rewrites must stage through the duckdb writer (the
        # run path's Spark writer can't emit INTERVAL) — the rowid-
        # column route preserves ids in-file for both member kinds
        infile, started = started + infile, []
    n = 0
    if started:
        n += rewrite_file_groups(session, name, [[p] for p in started],
                                 max_runs=max_runs,
                                 op="rewrite_data_files")
    if infile:
        n += merge_groups_rowid_column(session, name,
                                       [[p] for p in infile],
                                       op="rewrite_data_files")
    return n


def rewrite_file_groups(session, name: str, groups: list,
                        max_runs: int = 512,
                        op: str = "rewrite_file_groups") -> int:
    """Rewrite arbitrary GROUPS of a table's files in one snapshot.

    ``groups``: list of lists of ``(DataFileMeta, ResolvedFile)`` pairs.
    Every member file (and its delete file) is ended; the surviving rows
    re-register as contiguous-rowid runs — runs MERGE across adjacent
    members within a group (that is what makes ducklake_merge_adjacent's
    target_file_size packing produce one output file per group), never
    across groups. Files outside the groups keep their exact catalog
    registration. Run discovery (_live_runs) reads only the members'
    deletion vectors, which the rewrite's own scan then filters with, and
    refuses past ``max_runs`` runs. Each row keeps its insertion
    snapshot through the in-file snapshot column (the outputs register
    in the rewrite's snapshot). The runs are staged first; the
    members end and the outputs register in one transaction behind
    ``expect_live_member``, so a failed or conflicting rewrite leaves the
    table as it was."""
    from pyspark.sql import functions as F

    from .sources.scan import scan_table

    handle = session.table_handle(name)
    if any(is_interval_type(c.column_type) for c in handle.columns):
        # defense in depth (r9 review): this path writes via Spark's
        # parquet writer, which would silently re-store INTERVAL as a
        # plain struct and make the table unreadable — interval groups
        # must route through merge_groups_rowid_column (duckdb staging),
        # as compact/merge_adjacent/rewrite_data_files now do
        from .errors import UnsupportedType
        raise UnsupportedType(
            f"{op}: interval file groups must rewrite through the "
            "rowid-column path (merge_groups_rowid_column)")
    if handle.inlined_tables and handle.inlined_rows():
        raise InvalidConfig(
            f"{op} over tables with live inlined data rows "
            "is not supported — call flush_inlined_data() first")
    pairs = [m for g in groups for m in g]
    if not pairs:
        return 0
    if any(rf.encryption_key is not None for _, rf in pairs):
        raise InvalidConfig(
            f"{op} over encrypted tables is not supported — "
            "compact(preserve_rowids=False) rewrites encrypted")
    if any(mf.row_id_start is None or mf.record_count is None
           for mf, _ in pairs):
        # the runs are rowid ranges: without both, a file's rows fall
        # outside every run and would be dropped
        raise InvalidConfig(
            f"{op} needs row_id_start and record_count on every rewritten "
            "file — compact(preserve_rowids=False) renumbers instead")

    found = _live_runs(session, groups, max_runs)
    if len(found) > max_runs:
        raise InvalidConfig(
            f"{op}: {name} has more than {max_runs} contiguous rowid runs "
            f"(max_runs); rowids cannot be preserved in that many files — "
            f"compact with preserve_rowids=False to renumber")
    # partition-value carry (sql/compaction/compaction_partitioned_
    # table shape): a rewritten file inherits its group's exact
    # partition values when every member agrees — maintenance never
    # degrades partition pruning on partitioned tables. Mixed groups
    # (only possible via a caller that packs across partitions) get
    # no values, which is correct-but-unpruned.
    tid = handle.meta.table_id
    pv_map = session.provider.get_file_partition_values(tid)
    group_pv: list = []
    for group in groups:
        pvs = [pv_map.get(mf.data_file_id, {}) for mf, _rf in group]
        group_pv.append(sorted(pvs[0].items())
                        if pvs[0] and all(d == pvs[0] for d in pvs)
                        else None)
    runs = [(i, s, c, group_pv[g]) for i, (g, s, c) in enumerate(found)]

    target = target_of(session, handle)
    settings = session.provider.settings()
    staged = []
    if runs:
        df = scan_table(session.spark, handle.spark_schema,
                        [rf for _, rf in pairs], with_virtual=True)
        df = df.select(*[c.column_name for c in handle.columns], "rowid",
                       F.col("snapshot_id").alias("__begin_snapshot"))
        ranges = session.spark.createDataFrame(
            [(i, s, s + c - 1) for i, s, c, _pv in runs],
            "__run LONG, __lo LONG, __hi LONG")
        df = (df.join(F.broadcast(ranges),
                      (F.col("rowid") >= F.col("__lo"))
                      & (F.col("rowid") <= F.col("__hi")))
              .drop("__lo", "__hi"))
        # sort on __run first: the planned partitionBy("__run") write
        # re-sorts on __run alone, which would drop a rowid-only order
        staged = stage_files(
            session, target,
            df.repartition("__run").sortWithinPartitions("__run", "rowid"),
            include_snapshot=True, runs=runs, settings=settings)

    writer = _catalog_writer(session, settings)
    try:
        with writer._txn():
            snap = _end_members(writer, tid, pairs)
            n_rows = register_files(writer, snap, target, staged)
        session.refresh(settings)
        return n_rows
    finally:
        writer.close()


def _finalize_compact_runs(session, staging: str, table_path: str,
                           runs: list) -> list[tuple[str, int, int]]:
    """Move each ``__run=N`` directory's single part file to a UUID name
    in the table dir; returns [(final_name, size, footer)] aligned with
    ``runs``. Every run is checked first — exactly one staged file
    holding exactly the run's rows — and a mismatch raises
    CatalogCorruption before any file moves or registers. Scheme'd table
    paths (file:// s3a:// hdfs:// ...) go through the Hadoop FS API with
    row counts from one distributed footer job — the driver never
    downloads file contents; bare local paths take the direct os/pyarrow
    route."""
    out = []
    if "://" in table_path:
        fs = _HadoopFs(session.spark, table_path)
        counts = {int(r["__run"]): int(r["count"])
                  for r in (session.spark.read.parquet(staging)
                            .groupBy("__run").count().collect())}
        sources = []
        for run_id, _start, cnt, _pv in runs:
            run_dir = staging.rstrip("/") + f"/__run={run_id}"
            parts = [p for p in sorted(fs.list_names(run_dir))
                     if p.endswith(".parquet")]
            _check_staged_run(run_id, parts, counts.get(run_id, 0), cnt)
            sources.append(run_dir + "/" + parts[0])
        for src in sources:
            final_name = f"ducklake-{uuid.uuid4()}.parquet"
            final_path = table_path.rstrip("/") + "/" + final_name
            fs.rename(src, final_path)
            out.append((final_name, fs.size(final_path),
                        _footer_size_from_tail(fs.tail(final_path, 8),
                                               final_path)))
        fs.delete(staging, recursive=True)
        return out
    import shutil

    import pyarrow.parquet as pq
    sources = []
    for run_id, _start, cnt, _pv in runs:
        run_dir = os.path.join(staging, f"__run={run_id}")
        parts = [os.path.join(run_dir, p) for p in sorted(os.listdir(run_dir))
                 if p.endswith(".parquet")]
        _check_staged_run(run_id, parts,
                          sum(pq.read_metadata(p).num_rows for p in parts),
                          cnt)
        sources.append(parts[0])
    for src in sources:
        final_name = f"ducklake-{uuid.uuid4()}.parquet"
        final_path = os.path.join(table_path, final_name)
        os.rename(src, final_path)
        out.append((final_name, os.path.getsize(final_path),
                    footer_size_of(final_path)))
    shutil.rmtree(staging)
    return out


def _check_staged_run(run_id: int, parts: list, rows: int, cnt: int) -> None:
    """One staged file holding exactly the run's rows, or CatalogCorruption
    before anything moves or registers."""
    from .errors import CatalogCorruption
    if len(parts) != 1 or rows != cnt:
        raise CatalogCorruption(
            f"compaction run {run_id} staged {len(parts)} files of "
            f"{rows} rows, expected one file of {cnt}; nothing was "
            "registered")


_INLINABLE_SPARK_TYPES = ("IntegerType", "LongType", "ShortType",
                          "ByteType", "DoubleType", "FloatType",
                          "StringType", "BooleanType", "DateType",
                          "TimestampType", "TimestampNTZType",
                          "DecimalType")


def _inline_rows(settings: Settings, df: DataFrame, target: WriteTarget):
    """Write-side data inlining (sql/data_inlining/ corpus): an append at
    or under data_inlining_row_limit stores its rows IN the catalog DB
    instead of parquet — DuckDB's DATA_INLINING_ROW_LIMIT behavior.
    Returns (names, types, rows) for ``insert_inlined_rows``, or None to
    take the parquet path. limit(n+1) terminates early on big inputs, so
    a large append pays at most a truncated scan; simple scalar columns
    only (arrays/structs/binary fall through to parquet)."""
    import datetime
    import decimal

    limit_s = settings.get("data_inlining_row_limit")
    try:
        limit = int(limit_s or 0)
    except ValueError:
        return None
    if limit <= 0 or not all(
            type(f.dataType).__name__ in _INLINABLE_SPARK_TYPES
            for f in df.schema.fields):
        return None
    sample = df.limit(limit + 1).collect()
    if len(sample) > limit:
        return None                      # big append: parquet path

    def store(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat(sep=" ") if isinstance(
                v, datetime.datetime) else v.isoformat()
        if isinstance(v, decimal.Decimal):
            return str(v)
        return v

    for c in target.columns:
        if not c.nulls_allowed and any(r[c.column_name] is None
                                       for r in sample):
            raise InvalidConfig(
                f'NOT NULL constraint violated: column "{c.column_name}" '
                "contains NULL")
    names = [f.name for f in df.schema.fields]
    type_by_name = {c.column_name: c.column_type for c in target.columns}
    return (names, [type_by_name.get(n, "varchar") for n in names],
            [tuple(store(row[n]) for n in names) for row in sample])


def create_or_insert(session, name: str, df: DataFrame, mode: str,
                     single_file: bool = True, if_exists: str = "error",
                     commit_marker: tuple[str, str] | None = None,
                     maintenance: bool = False,
                     replace_definition: bool = False) -> int:
    """INSERT (append/overwrite) and CTAS. Returns the number of rows
    written (the reference returns a 1-row count batch;
    insert_exec.rs:24-31). The write is planned against the head, its
    files staged, and then ONE catalog transaction writes the snapshot,
    any column versions, the end of replaced files, the registrations
    or inlined rows and ``commit_marker`` — a (metadata key, value), the
    streaming sink's exactly-once anchor. ``single_file=False`` keeps
    the plan's write parallelism (per_thread_output for this write)."""
    schema_name, table_name = session._split(name)
    if mode == "create" and if_exists == "error":
        snap = session.provider.get_current_snapshot()
        schema_meta = session.provider.get_schema_by_name(schema_name, snap)
        if schema_meta is not None and session.provider.table_exists(
                schema_meta.schema_id, table_name, snap):
            raise InvalidConfig(f"Table already exists: {name}")
    write_mode = WriteMode.REPLACE if mode == "overwrite" else WriteMode.APPEND

    def setup(writer):
        return writer.begin_write_transaction(
            schema_name, table_name, _column_defs(df.schema), write_mode,
            maintenance=maintenance, replace_definition=replace_definition)

    settings = session.provider.settings()
    writer = _catalog_writer(session, settings)
    try:
        target = _plan_write(session, writer, setup)
        inline = _inline_rows(settings, df, target) \
            if write_mode == WriteMode.APPEND else None
        staged = [] if inline is not None else stage_files(
            session, target, df, per_thread=None if single_file else True,
            settings=settings)
        with writer._txn():
            done = setup(writer)
            _expect_planned(target, done)
            if inline is not None:
                writer.insert_inlined_rows(done.table_id, done.snapshot_id,
                                           *inline)
                n_rows = len(inline[2])
            else:
                n_rows = register_files(writer, done.snapshot_id, target,
                                        staged, keep_empty=True)
            if commit_marker is not None:
                writer.set_option(commit_marker[0], commit_marker[1])
        session.refresh(settings)
        return n_rows
    finally:
        writer.close()
