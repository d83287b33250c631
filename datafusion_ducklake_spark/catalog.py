"""Snapshot-pinned Catalog → Schema → Table chain and the DuckLakeSession.

Reference parity:
- DuckLakeCatalog (src/catalog.rs:31-217): pins snapshot_id at
  construction (or an explicit one — with_snapshot, catalog.rs:71-83, our
  time-travel arg), parses data_path, resolves schemas.
- DuckLakeSchema (src/schema.rs:102-225): table lookup + path chaining.
- DuckLakeTable (src/table.rs:149-295): EAGERLY loads columns and the live
  file list at construction — critical under Spark's lazy execution so a
  DataFrame keeps meaning the pinned snapshot no matter when an action
  runs (SURVEY.md §7 hard-part 3).

The session facade binds the relations a statement names as temp views
for ``spark.sql``, and carries the write path + CDC + information_schema
entry points.
"""

from __future__ import annotations

import contextlib
import os
import re
import weakref
import zlib
from functools import cached_property
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from .errors import (DuckLakeError, InvalidConfig, SchemaNotFound,
                     TableNotFound, UnsupportedType)
from .metadata.provider import (ColumnMeta, MetadataProvider, SchemaMeta,
                                Settings, TableMeta, provider_for)
from .operators.info_schema import local_df
from .paths import PathResolver, to_spark_uri
from .sources.scan import ResolvedFile, scan_table
from .types import build_spark_schema

DEFAULT_SCHEMA = "main"


def _hive_value(uri: str, key: str) -> Optional[str]:
    """Value of the hive-style ``key=value`` segment in a file path, with
    hive percent-escapes decoded; None when absent (scan injects NULL) or
    for hive's explicit null marker."""
    from urllib.parse import unquote
    for seg in uri.split("/")[:-1]:
        if seg.startswith(key + "="):
            val = unquote(seg[len(key) + 1:])
            return None if val == "__HIVE_DEFAULT_PARTITION__" else val
    return None


def _resolve_catalog_file_row(resolver, row) -> "str | None":
    """Resolve one (file_path, file_rel, table_path, table_rel,
    schema_path, schema_rel) catalog row to a normalized local path, or
    None when any hop fails (callers fall back to basename matching).
    Shared by orphan detection and rollback cleanup."""
    fp, fr, tp, tr, sp, sr = row
    try:
        sch = resolver.schema_path(sp, bool(sr))
        tbl = resolver.table_path(sch, tp, bool(tr))
        full = resolver.file_path(tbl, fp, bool(fr))
    except Exception:
        return None
    if full.startswith("file://"):
        full = full[len("file://"):]
    return os.path.normpath(full)


def _coerce_inlined(v, dt):
    """One inlined value back to its column's Spark type: catalog DBs
    (sqlite) store timestamps/dates/times/decimals as text/numeric."""
    import datetime
    import decimal

    from pyspark.sql import types as T
    if v is None:
        return None
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) \
            and isinstance(v, str):
        return datetime.datetime.fromisoformat(v)
    if isinstance(dt, T.DateType) and isinstance(v, str):
        return datetime.date.fromisoformat(v)
    if isinstance(dt, T.TimeType) and isinstance(v, (str, int)):
        # pre-r8 engine inlined time rows as µs-of-day ints
        # (which SQLite may hand back as digit strings under the
        # column's text affinity); post-r8 rows are ISO text
        if isinstance(v, str) and not v.isdigit():
            return datetime.time.fromisoformat(v)
        return (datetime.datetime.min
                + datetime.timedelta(microseconds=int(v))).time()
    if isinstance(dt, T.DecimalType) and \
            not isinstance(v, decimal.Decimal):
        return decimal.Decimal(str(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)) and \
            isinstance(v, int):
        return float(v)
    if isinstance(dt, T.BooleanType) and isinstance(v, int):
        return bool(v)
    return v


def inlined_frame(spark: SparkSession, schema: StructType, rows: list,
                  with_rowid: bool,
                  snapshot_col: Optional[str] = None) -> DataFrame:
    """(row_id, <data columns>, snapshot) provider rows as a DataFrame of
    ``schema`` (values coerced), plus ``rowid`` and, named
    ``snapshot_col``, the trailing snapshot when asked for."""
    fields = list(schema.fields)
    if with_rowid:
        fields.append(StructField("rowid", LongType(), True))
    if snapshot_col is not None:
        fields.append(StructField(snapshot_col, LongType(), True))
    data = [tuple(_coerce_inlined(v, f.dataType)
                  for v, f in zip(r[1:], schema.fields))
            + ((int(r[0]),) if with_rowid else ())
            + ((int(r[-1]),) if snapshot_col is not None else ())
            for r in rows]
    return spark.createDataFrame(data, StructType(fields))


class DuckLakeTable:
    def __init__(self, spark: SparkSession, provider: MetadataProvider,
                 resolver: PathResolver, schema_resolved_path: str,
                 meta: TableMeta, snapshot_id: int):
        self.spark = spark
        self.meta = meta
        self.snapshot_id = snapshot_id
        self._provider = provider
        self.columns: list[ColumnMeta] = provider.get_table_columns(
            meta.table_id, snapshot_id)
        self.table_path = resolver.table_path(
            schema_resolved_path, meta.path, meta.path_is_relative)
        # Eager file-list resolution == snapshot pinning under lazy Spark.
        self.files: list[ResolvedFile] = []
        self._raw_files = provider.get_data_files(meta.table_id, snapshot_id)
        # lazy: CDC reads mappings for files no longer live at this
        # snapshot, so the fetch must not depend on the current file list
        self._name_maps_cache: Optional[dict] = None
        self._live_names = {c.column_id: c.column_name
                            for c in self.columns}
        for f in self._raw_files:
            data_uri = to_spark_uri(resolver.file_path(
                self.table_path, f.path, f.path_is_relative))
            delete_uri = None
            delete_key = None
            if f.delete_file is not None:
                delete_uri = to_spark_uri(resolver.file_path(
                    self.table_path, f.delete_file.path,
                    f.delete_file.path_is_relative))
                delete_key = f.delete_file.encryption_key
            mapped_cols, hive_values = self.mapping_transform(
                f.mapping_id, data_uri)
            self.files.append(ResolvedFile(
                data_uri, delete_uri, f.record_count,
                encryption_key=f.encryption_key,
                delete_encryption_key=delete_key,
                row_id_start=f.row_id_start,
                mapping_id=f.mapping_id,
                begin_snapshot=f.begin_snapshot,
                mapped_cols=mapped_cols,
                hive_values=hive_values))

    def mapping_transform(self, mapping_id: Optional[int], data_uri: str
                          ) -> tuple[Optional[tuple], Optional[tuple]]:
        """(mapped_cols, hive_values) for a name-mapped file, or
        (None, None) when a plain by-name read is already correct.

        Name mapping (add_files contract): the file's columns resolve by
        name-AT-ADD-TIME to a column_id — renames keep working, a
        dropped-then-readded column of the same name reads NULL from old
        files (different column_id), and is_partition rows inject the
        hive path value. The transform only engages when it differs from
        a plain by-name read (rename, dead column, or hive injection)."""
        if mapping_id is None:
            return None, None
        if self._name_maps_cache is None:
            self._name_maps_cache = \
                self._provider.get_name_mappings(self.meta.table_id)
        if mapping_id not in self._name_maps_cache:
            return None, None
        rows = sorted(self._name_maps_cache[mapping_id])
        live = self._live_names
        mapped = tuple((src, live[cid]) for cid, src, part in rows
                       if not part and cid in live)
        # (live_name, source_name, value): source_name kept so the scan's
        # many-partition path can re-derive values from file paths
        hive = tuple((live[cid], src, _hive_value(data_uri, src))
                     for cid, src, part in rows if part and cid in live)
        dead = any(cid not in live for cid, _, _ in rows)
        # nested era mismatch: the mapping covers a struct column whose
        # CURRENT type contains a field identity newer than anything the
        # mapped file can carry — force the mapped path so the scan's
        # era clipping NULLs it instead of resurrecting by name (nested
        # analog of the dropped-then-readded column shadowing above)
        nested_evolved = False
        begins_of = {c.column_name: dict(c.nested_begins or ())
                     for c in self.columns}
        for _src, dst in mapped:
            if begins_of.get(dst):
                nested_evolved = True
                break
        if hive or dead or nested_evolved or any(s != d
                                                 for s, d in mapped):
            return mapped, hive
        return None, None

    @cached_property
    def spark_schema(self):
        return build_spark_schema(self.columns)

    @cached_property
    def inlined_tables(self) -> list[str]:
        return self._provider.get_inlined_tables(self.meta.table_id)

    def inlined_rows(self) -> list[tuple]:
        """(row_id, <data columns>) of every LIVE inlined row at this
        snapshot (DuckLake data inlining, read side: DuckDB writes small
        inserts into catalog tables; a reader must surface them)."""
        names = [c.column_name for c in self.columns]
        rows: list[tuple] = []
        for it in self.inlined_tables:
            rows.extend(self._provider.get_inlined_rows(
                it, names, self.snapshot_id))
        return rows

    def _inlined_df(self, with_rowid: bool,
                    with_snapshot: bool = False) -> Optional[DataFrame]:
        """Inlined rows as a DataFrame matching the scan schema, or None.
        Driver-side materialization is the right shape here: inlining is
        BY DESIGN bounded to a handful of rows per insert (the row-limit
        contract), so this never scales with table size."""
        rows = self.inlined_rows()
        if not rows:
            return None
        # trailing begin_snapshot from get_inlined_rows — per-row
        # insertion snapshot (flush preserves it in-file)
        return inlined_frame(self.spark, self.spark_schema, rows,
                             with_rowid,
                             "__begin_snapshot" if with_snapshot else None)

    def _live_set_digest(self) -> str:
        """Digest of this snapshot's live file set (raw catalog rows —
        see metadata.provider.live_set_digest for the definition and the
        gating properties). Shared with ducklake_clustering_info() so
        the staleness flag it reports and the read-path gate in
        _replica_df can never disagree."""
        from .metadata.provider import live_set_digest
        return live_set_digest(self._provider, self.meta.table_id,
                               self.snapshot_id)

    def _session_bucketed_df(self, spec: dict, loc: str, bname: str,
                             gc_prefix: str) -> DataFrame:
        """Construct (or reuse) the session-catalog external bucketed
        table over a clustered export at ``loc`` and return its scan
        projected to the live columns. ``gc_prefix``: sibling session
        tables with this prefix but another name are SUPERSEDED layouts
        of the same lake table/key — dropped so re-clustering can't
        leave stale scans behind. Callers validate the spec BEFORE this
        runs (key/columns/quoting/existence)."""
        qname = f"`default`.`{bname}`"
        spark = self.spark
        # Report the exports' in-bucket sort order to the planner: with
        # it, a SortMergeJoin of two co-clustered tables drops BOTH Sort
        # nodes (zero exchanges AND zero sorts). Spark gates the
        # ordering claim on exactly-one-file-per-bucket, which
        # cluster_by's repartition-before-bucketBy guarantees — with
        # multiple files per bucket the scan silently reports unordered,
        # so this can never produce a wrong merge for OUR exports.
        # Measured at SF10-equivalent (r9 q04 adjudication): q04
        # clustered min wall 1.22 s → 0.64 s; plan Sort nodes 2 → 0.
        # CAVEAT (r9 review): the conf is session-global — it also lets
        # Spark trust SORTED BY on the user's OWN single-file-per-bucket
        # session tables. Spark's writers always sort when SORTED BY is
        # declared, so that trust only breaks for foreign-written files
        # under a hand-declared DDL; set SPARK_GRAFT_BUCKETED_ORDERING=off
        # to keep the Spark default (clustered joins then re-sort).
        # Scoping (set/restore around construction) is UNSOUND: Spark
        # reads the conf at physical-planning time, so a restored plan
        # re-grows both Sorts — the session-global contract and its
        # exact blast radius are pinned by
        # tests/test_layout.py::test_bucketed_ordering_conf_blast_radius.
        if os.environ.get("SPARK_GRAFT_BUCKETED_ORDERING",
                          "on").lower() not in ("off", "false", "0"):
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "true")
        if not spark.catalog.tableExists(f"default.{bname}"):
            for t in spark.catalog.listTables("default"):
                if t.name.startswith(gc_prefix) and t.name != bname:
                    spark.sql(f"DROP TABLE IF EXISTS `default`.`{t.name}`")
            ddl = ", ".join(
                f"`{fld.name}` {fld.dataType.simpleString()}"
                for fld in self.spark_schema.fields)
            sort_clause = (f"SORTED BY (`{spec['key']}`) "
                           if spec.get("sort") else "")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {qname} ({ddl}) "
                f"USING PARQUET CLUSTERED BY (`{spec['key']}`) "
                f"{sort_clause}INTO {int(spec['buckets'])} BUCKETS "
                f"LOCATION '{loc}'")
        from pyspark.sql import functions as F
        # re-attach each field's metadata (INTERVAL_MARK/TIME_MARK ride
        # in spark_schema metadata; the external table's DDL loses it,
        # and a replica-served interval read must look exactly like the
        # plain scan's decoded struct — r10)
        return spark.table(f"default.{bname}").select(
            *[F.col(f"`{fld.name}`").alias(fld.name,
                                           metadata=dict(fld.metadata))
              if fld.metadata else F.col(f"`{fld.name}`")
              for fld in self.spark_schema.fields])

    def _spec_shape_ok(self, spec: dict) -> bool:
        """Shared spec validation for both clustered fast paths: schema
        unchanged since the export, sane bucket count, and no quote-
        bearing values that would reach DDL (a catalog-supplied value
        must never hit SQL unchecked). False always means 'use the
        plain scan' — never an error."""
        if spec.get("columns") != [c.column_name for c in self.columns] \
                or spec.get("types") != [c.column_type
                                         for c in self.columns]:
            return False
        if spec.get("key") not in {c.column_name for c in self.columns} \
                or "`" in str(spec.get("key", "")):
            return False
        if not isinstance(spec.get("buckets"), int) or spec["buckets"] < 1:
            return False
        dirname = spec.get("dir")
        if not isinstance(dirname, str) or not dirname \
                or "'" in dirname or "`" in dirname:
            return False
        return True

    def _clustered_df(self, expected_key: Optional[str] = None
                      ) -> Optional[DataFrame]:
        """The catalog-bucketed fast path: when this snapshot's live file
        set is EXACTLY a ``cluster_by`` export (table-scoped
        ``clustering`` option; operators/layout.py), reconstruct Spark's
        bucketed scan over those registered files via a session-catalog
        external bucketed table — two co-clustered facts then join with
        zero exchanges *through the DuckLake catalog*. Returns None
        whenever ANY precondition fails (later DML, deletes, schema
        change, inlined rows, time travel to another snapshot, encrypted
        files): callers fall back to the plain snapshot-consistent scan
        of the same files, so the spec going stale can never produce a
        wrong answer, only a slower plan."""
        import hashlib
        import json
        raw = self._provider.get_scoped_option(
            "clustering", None, self.meta.table_id)
        if raw is None:
            return None
        try:
            spec = json.loads(raw)
        except (ValueError, TypeError):
            return None
        if not isinstance(spec, dict) or not self._spec_shape_ok(spec) \
                or spec.get("n_files") is None:
            return None   # schema evolved after clustering (or pre-r6 spec)
        if expected_key is not None and spec.get("key") != expected_key:
            return None   # caller wants a different join key — replica path
        if not self.files:
            return None
        # EXACT set equality with the clustered export: every live file
        # inside the clustered dir, registered AT the clustering
        # snapshot, and the full cardinality present. Subset is NOT
        # enough — if maintenance ENDED one bucket file (fully-deleted
        # rewrite), the location scan would resurrect its rows from disk.
        marker = f"/{spec.get('dir')}/"
        for f in self.files:
            if f.delete_uri is not None or f.encryption_key is not None \
                    or marker not in f.data_uri \
                    or f.begin_snapshot != spec.get("snapshot"):
                return None
        if not isinstance(spec["n_files"], int) \
                or len(self.files) != spec["n_files"]:
            return None
        if self.inlined_rows():
            return None
        loc = self.table_path.rstrip("/") + "/" + spec["dir"]
        if "'" in loc or "`" in loc:
            return None
        # catalog-referenced files must exist — the location-based
        # session-table scan would otherwise SILENTLY return empty for a
        # moved/deleted data path, where the plain path raises
        # CatalogCorruption (ref: table.rs:340-354 missing-file contract).
        # Runs LAST so corrupt specs are rejected for free above. Local
        # and file:// URIs check via os.path; object-store URIs via ONE
        # Hadoop LIST of the clustered dir (the marker check above
        # guarantees every live file shares it) + set membership.
        from .sources.scan import _check_local_exists
        remote = [f.data_uri for f in self.files
                  if "://" in f.data_uri
                  and not f.data_uri.startswith("file://")]
        for f in self.files:
            _check_local_exists(f.data_uri)
        if remote:
            from .errors import CatalogCorruption
            from .table_writer import _HadoopFs
            dir_uri = remote[0].rsplit("/", 1)[0]
            try:
                fs = _HadoopFs(self.spark, dir_uri)
                present = {n for n, _sz in fs.list_files(dir_uri)}
            except Exception as e:
                raise CatalogCorruption(
                    "Catalog corruption: clustered data directory is "
                    f"unreadable or missing: {dir_uri} ({e})") from e
            for uri in remote:
                if uri.rsplit("/", 1)[-1] not in present:
                    raise CatalogCorruption(
                        "Catalog corruption: file referenced by catalog "
                        f"does not exist: {uri}")
        pdigest = hashlib.md5(self.table_path.encode()).hexdigest()[:12]
        ddigest = hashlib.md5(spec["dir"].encode()).hexdigest()[:8]
        # qualify with an explicit database: the helper must not land in
        # (or resolve against) whatever database the session has current
        return self._session_bucketed_df(
            spec, loc, f"ducklake_clustered_{pdigest}_{ddigest}",
            f"ducklake_clustered_{pdigest}_")

    def _replica_df(self, key: str) -> Optional[DataFrame]:
        """The SECOND-family fast path: serve a catalog-invisible replica
        export clustered on ``key`` (operators/layout.cluster_by
        replica=True). Unlike the primary path, replica files are not
        ducklake_data_file rows, so validity hangs on the spec's
        live-set digest: it must equal the digest of the snapshot being
        read (any DML or time travel diverges it) AND the replica dir
        must hold EXACTLY the spec's parquet names (a moved/partial dir
        must not silently drop rows through the location scan). Every
        failure returns None — the plain scan of the registered files is
        always correct, only slower."""
        import hashlib
        import json
        raw = self._provider.get_scoped_option(
            "clustering_replicas", None, self.meta.table_id)
        if raw is None:
            return None
        try:
            specs = json.loads(raw)
        except (ValueError, TypeError):
            return None
        if not isinstance(specs, dict):
            return None
        spec = specs.get(key)
        if not isinstance(spec, dict) or not self._spec_shape_ok(spec) \
                or spec.get("key") != key:
            return None
        if not self.files or self.inlined_rows():
            return None
        if spec.get("live_digest") != self._live_set_digest():
            return None   # DML since the replica build, or time travel
        names = spec.get("files")
        if not isinstance(names, list) or not names \
                or not all(isinstance(n, str) and n.endswith(".parquet")
                           and "/" not in n and "'" not in n
                           for n in names):
            return None
        loc = self.table_path.rstrip("/") + "/" + spec["dir"]
        if "'" in loc or "`" in loc:
            return None
        # exact name-set equality with the on-disk dir: extra files would
        # add rows through the location scan, missing files would drop
        # them — both sides of the comparison must match. Non-hidden
        # NON-parquet entries also force the fallback: Spark's location
        # scan lists every non-hidden file, so an alien entry the
        # .parquet filter would mask here could still error (or worse,
        # parse) inside the scan; only _/.-prefixed names are ignored by
        # both Spark and this check.
        base = loc[len("file://"):] if loc.startswith("file://") else loc
        try:
            if "://" in base:
                from .table_writer import _HadoopFs
                fs = _HadoopFs(self.spark, loc)
                entries = [n for n, _sz in fs.list_files(loc)
                           if not n.startswith(("_", "."))]
            else:
                entries = [n for n in os.listdir(base)
                           if not n.startswith(("_", "."))]
        except Exception:
            return None   # dir unreadable/moved: plain scan stays correct
        present = {n for n in entries if n.endswith(".parquet")}
        if len(entries) != len(present) or present != set(names):
            return None
        pdigest = hashlib.md5(self.table_path.encode()).hexdigest()[:12]
        kdigest = hashlib.md5(key.encode()).hexdigest()[:6]
        ddigest = hashlib.md5(spec["dir"].encode()).hexdigest()[:8]
        return self._session_bucketed_df(
            spec, loc, f"ducklake_clureplica_{pdigest}_{kdigest}_{ddigest}",
            f"ducklake_clureplica_{pdigest}_{kdigest}_")

    def to_df(self, with_rowid: bool = False,
              prune_filters: Optional[list[tuple]] = None,
              with_virtual: bool = False,
              cluster_key: Optional[str] = None) -> DataFrame:
        from functools import reduce

        from pyspark.sql import functions as F
        if not with_rowid and not with_virtual and not prune_filters:
            if cluster_key is not None:
                # join-key dispatch (r7 verdict #4): prefer the primary
                # clustered layout when its key matches, else a replica
                # family; no match -> the plain scan (never an error)
                df = self._clustered_df(expected_key=cluster_key)
                if df is None:
                    df = self._replica_df(cluster_key)
                if df is not None:
                    return df
            else:
                clustered = self._clustered_df()
                if clustered is not None:
                    return clustered
        files = self.files
        if prune_filters:
            files = self.prune_files(prune_filters)

        if with_virtual:
            # virtual-column scan (sql/virtualcolumns/)
            df = self.fill_initial_defaults(
                scan_table(self.spark, self.spark_schema, files,
                           with_virtual=True), F.col("snapshot_id"))
            rows = self.inlined_rows()
            if rows:
                from pyspark.sql.types import StringType
                names = [c.column_name for c in self.columns]
                base = self._inlined_df(with_rowid=True)
                # inlined virtual columns per the reference's surface:
                # filename = the inlined-data table's name
                iname = (self.inlined_tables[0]
                         if len(self.inlined_tables) == 1 else "inlined")
                pos_map = F.create_map(*[
                    F.lit(x) for i, r in enumerate(rows)
                    for x in (int(r[0]), i)])
                snap_map = F.create_map(*[
                    F.lit(x) for r in rows
                    for x in (int(r[0]), int(r[-1]))])
                w = (base
                     .withColumn("filename",
                                 F.lit(iname).cast(StringType()))
                     .withColumn("file_row_number",
                                 pos_map[F.col("rowid")].cast("long"))
                     .withColumn("file_index",
                                 F.lit(len(files)).cast("long"))
                     .withColumn("snapshot_id",
                                 snap_map[F.col("rowid")].cast("long")))
                df = df.unionByName(w.select(
                    *names, "rowid", "filename", "file_row_number",
                    "file_index", "snapshot_id"))
            return df

        # initial_default fill (sql/default/ corpus): a file registered
        # BEFORE a defaulted column existed physically lacks it — those
        # rows read the default, not NULL. Catalog-only decision (file
        # begin_snapshot vs column begin_snapshot); files bucket by the
        # set of columns they predate (normally 1-2 buckets), each bucket
        # is one scan branch with the defaults stamped.
        defaulted = [c for c in self.columns
                     if c.initial_default is not None
                     and c.begin_snapshot is not None]
        # nested struct-field defaults (sql/default/
        # struct_field_default.test): files registered before the field
        # identity appeared read the default, not NULL — same era
        # bucketing, filled with Column.withField
        nested_defaults = self._provider.get_nested_field_defaults(
            self.meta.table_id, self.snapshot_id)

        def predates(f: ResolvedFile) -> tuple:
            if f.begin_snapshot is None:
                return ()
            out = tuple(c.column_name for c in defaulted
                        if f.begin_snapshot < c.begin_snapshot)
            out += tuple(f"{p}.{c}" for p, c, _d, fb in nested_defaults
                         if f.begin_snapshot < fb)
            return out

        buckets: dict[tuple, list[ResolvedFile]] = {}
        for f in files:
            buckets.setdefault(predates(f), []).append(f)
        if not buckets:
            buckets = {(): []}

        types = {f.name: f.dataType for f in self.spark_schema.fields}
        inits = {c.column_name: c.initial_default for c in defaulted}
        inits.update({f"{p}.{c}": d for p, c, d, _fb in nested_defaults})
        parts = []
        for missing, group in sorted(buckets.items()):
            df = scan_table(self.spark, self.spark_schema, group,
                            with_rowid=with_rowid)
            for col in missing:
                if "." in col:
                    parent, field = col.split(".", 1)
                    ptype = types[parent]
                    ftype = next(f.dataType for f in ptype.fields
                                 if f.name.lower() == field.lower())
                    df = df.withColumn(
                        parent,
                        F.col(parent).withField(
                            field, F.expr(inits[col]).cast(ftype)))
                else:
                    df = df.withColumn(
                        col, F.expr(inits[col]).cast(types[col]))
            parts.append(df)
        df = reduce(DataFrame.unionByName, parts)
        inlined = self._inlined_df(with_rowid)
        if inlined is not None:
            df = df.unionByName(inlined)
        return df

    def fill_initial_defaults(self, df: DataFrame,
                              snapshot: Column) -> DataFrame:
        """initial_default fill keyed by each row's insertion
        ``snapshot`` (sql/default/ corpus): a row inserted before a
        defaulted column, or struct field, existed reads the default,
        not NULL. The virtual-column read and DML both carry that
        snapshot per row, so neither needs the plain read's file
        bucketing."""
        from pyspark.sql import functions as F
        types = {f.name: f.dataType for f in self.spark_schema.fields}
        df = df.withColumns({
            c.column_name: F.when(snapshot < F.lit(c.begin_snapshot),
                                  F.expr(c.initial_default)
                                  .cast(types[c.column_name]))
            .otherwise(F.col(c.column_name))
            for c in self.columns
            if c.initial_default is not None
            and c.begin_snapshot is not None})
        for parent, field, default, begin in \
                self._provider.get_nested_field_defaults(
                    self.meta.table_id, self.snapshot_id):
            ftype = next(f.dataType for f in types[parent].fields
                         if f.name.lower() == field.lower())
            df = df.withColumn(parent, F.when(
                snapshot < F.lit(begin), F.col(parent).withField(
                    field, F.expr(default).cast(ftype)))
                .otherwise(F.col(parent)))
        return df

    def prune_files(self, filters: list[tuple]) -> list[ResolvedFile]:
        """Catalog-level file pruning from ``ducklake_file_column_stats``
        (the reference's TODO, metadata_provider.rs:569): drop files whose
        per-column min/max provably exclude every row matching the
        conjunctive ``(column, op, value)`` filters (op ∈ = < <= > >=).
        Conservative: a file with no stats, a NULL bound, or an
        uncoercible value is kept. At 100k-file scale this skips opening
        excluded files entirely — cheaper than parquet row-group pruning,
        which still costs a footer read per file."""
        stats = self._provider.get_file_column_stats(
            self.meta.table_id, self.snapshot_id)
        types = {c.column_name: (c.column_id, c.column_type)
                 for c in self.columns}
        # geometry bbox pruning (op == "bbox_intersects", value =
        # (xmin, ymin, xmax, ymax)): consult the file's extra_stats bbox
        # written at insert/rewrite time — spatial partition pruning on
        # top of the DuckLake stats the geo corpus records. Lazy: only
        # fetched when a bbox filter is present.
        extra = (self._provider.get_file_extra_stats(
                    self.meta.table_id, self.snapshot_id)
                 if any(op == "bbox_intersects" for _c, op, _v in filters)
                 else {})

        def bbox_keeps(file_id, col, val) -> bool:
            if col not in types:
                return True
            blob = extra.get(file_id, {}).get(types[col][0])
            if not blob:
                return True          # no recorded bbox: keep
            import json as _json
            bb = _json.loads(blob).get("bbox", {})
            fx0, fx1 = bb.get("xmin"), bb.get("xmax")
            fy0, fy1 = bb.get("ymin"), bb.get("ymax")
            if None in (fx0, fx1, fy0, fy1):
                return True
            qx0, qy0, qx1, qy1 = val
            return fx0 <= qx1 and qx0 <= fx1 and fy0 <= qy1 and qy0 <= fy1

        def coerce(column_type: str, v):
            t = column_type.lower()
            if t == "interval":
                # FLBA(12) stats bytes are not orderable (and may decode
                # to control-char "strings") — raising keeps the file
                raise ValueError("interval stats are not orderable")
            if t == "time":
                # cross-era normalization to µs-of-day: pre-r8 stats are
                # digit strings of the old int64 encoding, post-r8 stats
                # are ISO time text, filter values may be datetime.time.
                # Comparing the raw strings lexicographically would
                # wrongly prune ('01:00:00' < '3600000000' as text).
                import datetime as _dt
                if isinstance(v, _dt.time):
                    tv = v
                else:
                    s = str(v)
                    if ":" in s:
                        # engine-emitted new-era stats are always
                        # str(datetime.time) = 'HH:MM:SS[.ffffff]'
                        tv = _dt.time.fromisoformat(s)
                    elif s.isdigit():
                        # digits-only MUST stay integer µs: our own
                        # old-era stats include values like '120000'
                        # (= 0.12 s) that compact-ISO parsing would
                        # misread as 12:00:00. A foreign writer's
                        # colon-less compact ISO ('010203') is
                        # inherently ambiguous with an integer and
                        # loses to the engine's own encoding; r8
                        # ADVICE adjudicated in PLANS.md.
                        return int(s)
                    else:
                        # non-digit, colon-less (e.g. '01:02:03.5'
                        # variants or junk): fromisoformat either
                        # parses it or raises ValueError, which the
                        # caller treats as "keep the file" — the
                        # conservative no-prune outcome.
                        tv = _dt.time.fromisoformat(s)
                return ((tv.hour * 3600 + tv.minute * 60 + tv.second)
                        * 1000000 + tv.microsecond)
            if any(k in t for k in ("int", "float", "double", "decimal",
                                    "real", "bigint", "hugeint")):
                return float(v)
            return str(v)

        def overlaps(fstats, col, op, val) -> bool:
            if op == "bbox_intersects":
                return True          # handled by bbox_keeps
            if col not in types:
                return True
            cid, ctype = types[col]
            entry = fstats.get(cid)
            if entry is None:
                return True
            _nulls, mn, mx = entry
            if mn is None or mx is None:
                return True
            try:
                v, lo, hi = coerce(ctype, val), coerce(ctype, mn), \
                    coerce(ctype, mx)
            except (TypeError, ValueError):
                return True
            if op == "=":
                return lo <= v <= hi
            if op == ">":
                return hi > v
            if op == ">=":
                return hi >= v
            if op == "<":
                return lo < v
            if op == "<=":
                return lo <= v
            return True

        # Partition-value pruning (sql/partitioning/ corpus): exact
        # per-file values beat min/max stats for spec columns. A file
        # with no recorded value for a key is kept (conservative —
        # pre-spec files, DML/compact rewrites).
        spec = self._provider.get_partition_columns(
            self.meta.table_id, self.snapshot_id)
        pvals = (self._provider.get_file_partition_values(self.meta.table_id)
                 if spec else {})
        id_to_name = {c.column_id: c.column_name for c in self.columns}
        key_of = {id_to_name.get(cid): (idx, tf) for idx, cid, tf in spec}

        def part_keeps(file_id, col, op, val) -> bool:
            hit = key_of.get(col)
            if hit is None:
                return True
            idx, tf = hit
            stored = pvals.get(file_id, {}).get(idx)
            if stored is None:
                return True
            if tf == "year":
                # transform-aware pruning: year() is monotone in its
                # argument, so comparing year(filter value) against the
                # stored partition year with the same op is sound
                # (corpus: sql/partitioning/year_month_day.test)
                try:
                    v = float(str(val)[:4])
                    s = float(stored)
                except (TypeError, ValueError):
                    return True
                return {"=": s == v, ">": s >= v, ">=": s >= v,
                        "<": s <= v, "<=": s <= v}.get(op, True)
            if tf != "identity":
                # month/day/hour extractions are cyclic, not monotone —
                # no sound file-level inference from a raw-column filter
                return True
            _cid, ctype = types[col]
            try:
                v, s = coerce(ctype, val), coerce(ctype, stored)
            except (TypeError, ValueError):
                return True
            return {"=": s == v, ">": s > v, ">=": s >= v,
                    "<": s < v, "<=": s <= v}.get(op, True)

        kept = []
        for raw, resolved in zip(self._raw_files, self.files):
            if not all(part_keeps(raw.data_file_id, c, op, v)
                       for (c, op, v) in filters):
                continue
            if not all(bbox_keeps(raw.data_file_id, c, v)
                       for (c, op, v) in filters
                       if op == "bbox_intersects"):
                continue
            fstats = stats.get(raw.data_file_id)
            if fstats is None or all(
                    overlaps(fstats, c, op, v) for (c, op, v) in filters):
                kept.append(resolved)
        return kept

    def total_byte_size(self) -> int:
        """Σ data bytes − Σ delete bytes, the reference's CBO stat
        (ref: table.rs:544-582)."""
        total = 0
        for f in self._raw_files:
            total += f.file_size_bytes
            if f.delete_file is not None:
                total -= f.delete_file.file_size_bytes
        return max(total, 0)


class DuckLakeSchema:
    def __init__(self, spark: SparkSession, provider: MetadataProvider,
                 resolver: PathResolver, meta: SchemaMeta, snapshot_id: int):
        self.spark = spark
        self.provider = provider
        self.resolver = resolver
        self.meta = meta
        self.snapshot_id = snapshot_id
        self.resolved_path = resolver.schema_path(meta.path, meta.path_is_relative)

    def table_names(self) -> list[str]:
        return [t.table_name for t in
                self.provider.list_tables(self.meta.schema_id, self.snapshot_id)]

    def table(self, name: str) -> DuckLakeTable:
        meta = self.provider.get_table_by_name(
            self.meta.schema_id, name, self.snapshot_id)
        if meta is None:
            raise TableNotFound(f"{self.meta.schema_name}.{name}")
        return DuckLakeTable(self.spark, self.provider, self.resolver,
                             self.resolved_path, meta, self.snapshot_id)


class DuckLakeCatalog:
    def __init__(self, spark: SparkSession, provider: MetadataProvider,
                 snapshot_id: Optional[int] = None,
                 settings: Optional[Settings] = None):
        """``settings``: the open statement's settings read, when it
        has one (a write's refresh), so data_path is not read again."""
        self.spark = spark
        self.provider = provider
        # pin once; every downstream lookup threads this id
        self.snapshot_id = (provider.get_current_snapshot()
                            if snapshot_id is None else snapshot_id)
        self.resolver = PathResolver((settings or provider.settings())
                                     .data_path)

    def schema_names(self) -> list[str]:
        return [s.schema_name for s in
                self.provider.list_schemas(self.snapshot_id)]

    def schema(self, name: str) -> DuckLakeSchema:
        meta = self.provider.get_schema_by_name(name, self.snapshot_id)
        if meta is None:
            raise SchemaNotFound(name)
        return DuckLakeSchema(self.spark, self.provider, self.resolver,
                              meta, self.snapshot_id)


# DuckLake secrets (corpus: sql/secrets/ducklake_secrets.test): a named
# connection profile — METADATA_PATH + DATA_PATH — that an empty attach
# string ('' / 'ducklake:') resolves. Process-local, like DuckDB's
# in-memory secret manager default.
_DUCKLAKE_SECRETS: dict[str, dict] = {}


def create_ducklake_secret(metadata_path: str,
                           data_path: Optional[str] = None,
                           name: str = "__default") -> None:
    """CREATE SECRET (TYPE DUCKLAKE, METADATA_PATH ..., DATA_PATH ...)."""
    _DUCKLAKE_SECRETS[name] = {"metadata_path": metadata_path,
                               "data_path": data_path}


def drop_ducklake_secret(name: str = "__default") -> None:
    _DUCKLAKE_SECRETS.pop(name, None)


# What a refresh learns from each change label the catalog writer records
# (``label:<id>``): what the id names, and whether relation or macro names
# may have changed with it. Any other label, or an id that is not a number
# (DuckDB records some objects by name), makes a refresh rebuild every
# binding (DuckLakeSession.refresh).
_CHANGE_LABELS = {
    **dict.fromkeys(("inserted_into_table", "deleted_from_table",
                     "compacted_table", "flushed_inlined_data",
                     "altered_table"), ("table", False)),
    **dict.fromkeys(("created_table", "dropped_table", "renamed_table"),
                    ("table", True)),
    **dict.fromkeys(("created_view", "dropped_view", "altered_view"),
                    ("view", True)),
    **dict.fromkeys(("created_schema", "dropped_schema"), ("schema", True)),
    **dict.fromkeys(("created_macro", "dropped_macro"), ("macro", True)),
}

# Which frame each temp view name serves, per SparkSession. Temp views
# are global to a SparkSession while bindings belong to a DuckLakeSession
# (its catalog, its pin), so a name is re-created only when another
# session has re-pointed it since (DuckLakeSession._publish).
_VIEW_OWNERS: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


class DuckLakeSession:
    """User-facing facade: ``dl = DuckLakeSession(spark, 'catalog.db')``.

    - ``dl.table('main.users')`` / ``dl.table('users')`` → DataFrame
    - ``dl.sql('SELECT ... FROM main.users')`` → DataFrame. A statement
      binds only the relations it names, at this session's pin, as temp
      views; ``refresh()`` re-pins and rebuilds only the bound
      relations the snapshots since the pin touched
    - ``dl.snapshots() / table_info() / list_files()`` and
      ``dl.table_changes / table_deletions`` (table-function parity,
      SURVEY §2A A13-14; SQL calls resolve to the same builders)
    - ``dl.create_table / insert_into`` (write path, A8-A10)
    - ``snapshot_id=`` arg gives time travel (with_snapshot, catalog.rs:71-83)
    """

    def __init__(self, spark: SparkSession, catalog_path: str,
                 snapshot_id: Optional[int] = None,
                 provider: Optional[MetadataProvider] = None,
                 read_only: bool = False,
                 create_if_not_exists: bool = True,
                 data_path: Optional[str] = None,
                 override_data_path: bool = False,
                 meta_type: Optional[str] = None,
                 snapshot_time: Optional[str] = None):
        """Attach semantics (sql/initialize/ + sql/attach/ corpus):

        - missing catalog DB: created when ``create_if_not_exists`` (the
          DuckDB ATTACH default) — its data path is ``data_path`` or
          ``<catalog_path>.files``; refused with CREATE_IF_NOT_EXISTS
          false, and refused in read-only mode (nothing to read).
        - existing catalog + ``data_path``: must match the catalog's
          recorded data path (attach/different_paths.test) unless
          ``override_data_path`` rewrites the recorded value.
        """
        self.spark = spark
        if spark is not None:
            # TIME columns map to Spark 4's feature-flagged TimeType;
            # enable it session-wide so scans, inlined-row frames and
            # writers all agree (types.py `time` mapping)
            spark.conf.set("spark.sql.timeType.enabled", "true")
        if meta_type is not None and meta_type.lower() not in (
                "sqlite", "duckdb"):
            # sql/general/metadata_parameters.test: unknown META_TYPE
            raise InvalidConfig(
                f"unknown META_TYPE {meta_type.lower()!r} "
                "(supported: sqlite, duckdb)")
        if provider is None and catalog_path.strip() in ("", "ducklake:"):
            # empty attach string: resolve the default DuckLake secret
            # (sql/secrets/ducklake_secrets.test)
            sec = _DUCKLAKE_SECRETS.get("__default")
            if sec is None:
                raise InvalidConfig(
                    "Default secret was not found for an empty DuckLake "
                    "attach string — CREATE SECRET (TYPE DUCKLAKE, "
                    "METADATA_PATH ..., DATA_PATH ...) first")
            catalog_path = sec["metadata_path"]
            data_path = data_path or sec["data_path"]
        self.catalog_path = catalog_path
        if provider is None and not os.path.exists(catalog_path):
            if not create_if_not_exists:
                raise InvalidConfig(
                    "creating a new DuckLake is explicitly disabled "
                    f"(CREATE_IF_NOT_EXISTS false): {catalog_path}")
            if read_only:
                raise InvalidConfig(
                    "cannot create a new DuckLake in read-only mode: "
                    f"{catalog_path}")
            from .metadata.writer import CatalogWriter
            if (meta_type or "").lower() == "duckdb" \
                    or (meta_type is None
                        and catalog_path.endswith((".duckdb", ".ddb"))):
                w = CatalogWriter.duckdb(catalog_path)
            else:
                w = CatalogWriter.sqlite(catalog_path)
            w.initialize_schema(data_path=data_path
                                or catalog_path + ".files")
            w.close()
            data_path = None        # freshly recorded; nothing to compare
        self.provider = provider or provider_for(catalog_path)
        self.read_only = read_only          # final value recomputed below
        if data_path is not None:
            recorded = self.provider.get_data_path()
            norm = lambda p: p.rstrip("/")         # noqa: E731
            if norm(recorded) != norm(data_path):
                if not override_data_path:
                    raise InvalidConfig(
                        f"DATA_PATH '{data_path}' does not match existing "
                        f"data path in the catalog ('{recorded}') — pass "
                        "override_data_path=True to rewrite it")
                from .table_writer import _catalog_writer
                w = _catalog_writer(self)
                try:
                    w.set_option("data_path", data_path)
                finally:
                    w.close()
        if snapshot_time is not None:
            # ATTACH (SNAPSHOT_TIME => ...) — sql/general/
            # attach_at_snapshot.test: resolves to the newest snapshot
            # at-or-before the time; exclusive with SNAPSHOT_VERSION
            if snapshot_id is not None:
                raise InvalidConfig(
                    "SNAPSHOT_VERSION and SNAPSHOT_TIME cannot be "
                    "combined")
            snapshot_id = self.provider.get_snapshot_at_timestamp(
                str(snapshot_time))
            if snapshot_id is None:
                raise InvalidConfig(
                    f"No snapshot found at or before {snapshot_time}")
        if snapshot_id is not None and \
                not self.provider.snapshot_exists(snapshot_id):
            # covers beyond-history AND expired versions
            raise InvalidConfig(
                f"No snapshot found at version {snapshot_id}")
        # (snapshot id, catalog version) the session is pinned at; the
        # version is unknown for an explicit pin
        self._pin = (self.provider.head() if snapshot_id is None
                     else (snapshot_id, None))
        self.catalog = DuckLakeCatalog(spark, self.provider, self._pin[0])
        # relation binder state at the pin (see _resolve_relations)
        self._names: Optional[dict] = None       # pin's relation names
        self._frames: dict[tuple, DataFrame] = {}   # relation key → frame
        self._views: dict[str, tuple] = {}       # temp view → relation key
        # relation key → (what it named at the pin, keys its body bound)
        self._deps: dict[tuple, tuple] = {}
        self._building: list[set] = []      # keys bound by frames in build
        self._published: Optional[list] = None   # open statement's views
        self._txn_base: Optional[int] = None   # BEGIN's snapshot anchor
        self._macros: Optional[list] = None    # lazy ducklake_macro cache
        self._st_registered = False
        # READ_ONLY attach: every mutation funnels through the catalog
        # writer, which refuses (sql/general/ducklake_read_only.test).
        # A session pinned to a historical snapshot is read-only by
        # construction (sql/general/attach_at_snapshot.test): writes
        # would fork history.
        self.read_only = read_only or snapshot_id is not None

    # -- name resolution ---------------------------------------------------

    def _split(self, name: str) -> tuple[str, str]:
        parts = name.split(".")
        if len(parts) == 1:
            return DEFAULT_SCHEMA, parts[0]
        if len(parts) == 2:
            return parts[0], parts[1]
        raise TableNotFound(name)

    def table(self, name: str, with_rowid: bool = False,
              prune_filters: Optional[list[tuple]] = None,
              with_virtual: bool = False,
              cluster_key: Optional[str] = None) -> DataFrame:
        """``prune_filters=[("l_shipdate", ">=", "1995-01-01"), ...]``
        drops files whose catalog min/max stats exclude the conjunctive
        predicate BEFORE any parquet I/O (see prune_files). The same
        predicate must still be applied with .filter() — pruning is
        file-granular, not row-granular. ``with_virtual`` appends the
        DuckLake virtual columns rowid/filename/file_row_number/
        file_index/snapshot_id (sql/virtualcolumns/ corpus).
        ``cluster_key``: request the clustered layout for a specific
        join/grouping key — served from the primary clustering or a
        replica family when one matches and is current, else the plain
        scan (operators/layout.cluster_by)."""
        schema_name, table_name = self._split(name)
        return self.catalog.schema(schema_name).table(table_name) \
            .to_df(with_rowid=with_rowid, prune_filters=prune_filters,
                   with_virtual=with_virtual, cluster_key=cluster_key)

    def table_handle(self, name: str) -> DuckLakeTable:
        schema_name, table_name = self._split(name)
        try:
            return self.catalog.schema(schema_name).table(table_name)
        except (SchemaNotFound, TableNotFound):
            # unqualified name, table lives in another schema: suggest it
            # (sql/add_files/add_file_specific_schema.test — upstream says
            # 'Did you mean "schema_test.test"?')
            if "." not in name:
                snap = self.catalog.snapshot_id
                for sch, t_meta in self.provider.list_all_tables(snap):
                    if (t_meta.table_name.lower() == table_name.lower()
                            and sch != schema_name):
                        raise TableNotFound(
                            f'{name} — did you mean '
                            f'"{sch}.{t_meta.table_name}"?') from None
            raise

    # -- SQL over temp views: the relation binder -------------------------
    # A statement binds only the relations it names, at this session's pin
    # (the reference resolves a table when a query looks it up,
    # catalog.rs:136-217, schema.rs:102-225), under the view name it uses:
    # bare for the default schema, ``schema__name`` for a dotted reference
    # (rewritten to it), ``__rowid`` / ``__virtual`` for the column twins
    # and ``__at_<snapshot>`` for ``AT (VERSION => …)``.

    def register_views(self) -> None:
        """Drop this session's bindings, so the next ``sql()`` binds what
        it names afresh at the current pin. Kept for callers of the eager
        registrar this replaced; ``sql()`` needs no call before it."""
        for view, key in self._views.items():
            self._release(view, self._frames[key])
        self._frames, self._views, self._deps = {}, {}, {}

    def _build(self, key: tuple) -> DataFrame:
        """The frame of relation ``key`` = (name, variant): variant None,
        ``"rowid"`` / ``"virtual"`` for a table's column twins, or a
        snapshot id for ``AT (…)``. A view binds through its body, which
        binds the relations it names in turn."""
        name, variant = key
        if isinstance(variant, int):
            if not self.provider.snapshot_exists(variant):
                raise InvalidConfig(
                    f"No snapshot found at version {variant}")
            schema_name, table_name = self._split(name)
            return DuckLakeCatalog(self.spark, self.provider, variant) \
                .schema(schema_name).table(table_name).to_df()
        smeta, meta = self._relation(name)
        if not isinstance(meta, TableMeta):
            if meta is None or variant:
                raise TableNotFound(name)
            return self._plan_view_body(meta.sql)
        resolver = self.catalog.resolver
        try:
            return DuckLakeTable(
                self.spark, self.provider, resolver,
                resolver.schema_path(smeta.path, smeta.path_is_relative),
                meta, self.catalog.snapshot_id).to_df(
                    with_rowid=variant == "rowid",
                    with_virtual=variant == "virtual")
        except UnsupportedType as e:
            raise UnsupportedType(
                f"{smeta.schema_name}.{meta.table_name}: {e}") from e

    def _bind(self, key: tuple, view: str) -> str:
        """Bind relation ``key`` for this session as temp view ``view``,
        recording what it named at the pin and what its body bound."""
        df = self._frames.get(key)
        if df is None:
            if key in self._frames:
                raise InvalidConfig(f"view {key[0]} refers to itself")
            self._frames[key] = None
            self._building.append(set())
            try:
                df = self._frames[key] = self._build(key)
            finally:
                uses = self._building.pop()
                if df is None:
                    del self._frames[key]
            self._deps[key] = (self._identity(key), frozenset(uses))
        self._uses(key)
        self._views[view] = key
        self._publish(view, df)
        return view

    def _uses(self, key: tuple) -> None:
        """Record that the frame in build reads relation ``key``."""
        if self._building:
            self._building[-1].add(key)

    def _identity(self, key: tuple) -> Optional[tuple]:
        """What relation ``key`` names at the pin: ("table", table_id) or
        ("view", view_id); None for an ``AT (…)`` binding, which names
        one snapshot for good, or a name the pin lacks."""
        name, variant = key
        if isinstance(variant, int):
            return None
        meta = self._relation(name)[1]
        if isinstance(meta, TableMeta):
            return "table", meta.table_id
        return None if meta is None else ("view", meta.view_id)

    def _probe(self, key: tuple) -> DataFrame:
        """The frame of relation ``key``, leaving no binding behind:
        whatever building it binds (a view body's relations) is released
        again, and the session's own bindings are kept as they were."""
        frames, views = dict(self._frames), dict(self._views)
        deps = dict(self._deps)
        self._building.append(set())
        try:
            return self._build(key)
        finally:
            self._building.pop()
            for view, k in self._views.items():
                if view not in views:
                    self._release(view, self._frames[k])
            self._frames, self._views, self._deps = frames, views, deps

    @contextlib.contextmanager
    def _statement(self):
        """Scope of one statement. The metadata views it publishes serve
        its analysis, and its run when it is DML; leaving the outermost
        scope drops the views left in the yielded list. Analysis inlines a
        temp view's plan, so a frame built over one still runs after the
        view is gone."""
        if self._published is not None:
            yield self._published
            return
        self._published = []
        try:
            yield self._published
        finally:
            published, self._published = self._published, None
            for view, df in published:
                self._release(view, df)

    def _publish(self, view: str, df: DataFrame) -> None:
        """Point temp view ``view`` at ``df`` unless it already does.
        Temp views are global to a SparkSession, so another session may
        have re-pointed the name since; the owner record tells, and an
        unchanged name costs nothing."""
        owners = _VIEW_OWNERS.setdefault(self.spark, {})
        if owners.get(view.lower()) is not df:
            df.createOrReplaceTempView(view)
            owners[view.lower()] = df

    def _release(self, view: str, df: Optional[DataFrame] = None) -> None:
        """Drop temp view ``view`` if it still serves ``df`` (any
        session's binding when ``df`` is None)."""
        owners = _VIEW_OWNERS.get(self.spark, {})
        held = owners.get(view.lower())
        if held is not None and (df is None or held is df):
            self.spark.catalog.dropTempView(view)
            del owners[view.lower()]

    def _relation(self, name: str) -> tuple:
        """(SchemaMeta, TableMeta | ViewMeta) of ``t`` / ``s.t`` at the
        pin, or (None, None). The pin's names are read once."""
        if self._names is None:
            snap = self.catalog.snapshot_id
            schemas = {s.schema_name: s
                       for s in self.provider.list_schemas(snap)}
            self._names = {f"{s}.{t.table_name}".lower(): (schemas[s], t)
                           for s, t in self.provider.list_all_tables(snap)}
            for s in schemas.values():
                for v in self.provider.list_views(s.schema_id, snap):
                    self._names.setdefault(
                        f"{s.schema_name}.{v.view_name}".lower(), (s, v))
        if "." not in name:
            name = f"{DEFAULT_SCHEMA}.{name}"
        return self._names.get(name.lower(), (None, None))

    def _bind_name(self, ref: str) -> str:
        """Bind ``t`` / ``s.t`` (or a ``__rowid`` / ``__virtual`` twin)
        when the pin has that relation; a dotted reference becomes its
        flat view name. Anything else is returned as written."""
        if ref.count(".") > 1:
            return ref
        smeta, meta = self._relation(ref)
        variant = None
        if meta is None:
            base, _, variant = ref.lower().rpartition("__")
            smeta, meta = self._relation(base)
            if variant not in ("rowid", "virtual") or \
                    not isinstance(meta, TableMeta):
                if "." not in ref:
                    # a name this pin lacks must not read another
                    # session's binding left under it
                    self._release(ref)
                return ref
        name = meta.table_name if isinstance(meta, TableMeta) \
            else meta.view_name
        key = (f"{smeta.schema_name}.{name}".lower(), variant)
        view = f"{name}__{variant}" if variant else name
        if "." not in ref:
            self._bind(key, view)
            return ref
        return self._bind(key, f"{smeta.schema_name}__{view}")

    def _bind_at(self, ref: str, kind: str, raw: str) -> str:
        """``t AT (VERSION => N)`` / ``t AT (TIMESTAMP => 'ts')`` (the
        DuckLake SQL time-travel surface; corpus: sql/time_travel/): the
        table at that snapshot, TIMESTAMP resolving to the newest
        snapshot at or before the time."""
        if kind.upper() == "VERSION":
            snap = int(raw.strip("'"))
        else:
            snap = self.provider.get_snapshot_at_timestamp(raw.strip("'"))
            if snap is None:
                raise InvalidConfig(f"No snapshot found at or before {raw}")
        dotted = ref if "." in ref else f"{DEFAULT_SCHEMA}.{ref}"
        return self._bind((dotted, snap),
                          f"{dotted.replace('.', '__')}__at_{snap}")

    # One pass over the statement finds every relation it names (SURVEY
    # A13-A14): information_schema.<view>, the metadata-catalog
    # passthrough (__ducklake_metadata_<name>.X / ducklake_metadata.X —
    # upstream ATTACHes the metadata DB as a queryable catalog),
    # ducklake_<fn>(<constants>) table functions, and table or view
    # names, optionally followed by AT (…). Literals and backtick
    # identifiers match first and are kept verbatim. A constant argument
    # is a number, a quoted string, a DATE/TIMESTAMP literal or now()
    # (CDC time bounds — table_changes/ducklake_lower_timestamp.test).
    _SQL_ARG = r"(?:\d+|(?:DATE|TIMESTAMP)?\s*'(?:[^']|'')*'|NOW\s*\(\s*\))"
    _RELATION_RE = re.compile(
        r"('(?:[^']|'')*'|`(?:[^`]|``)*`)"
        r"|\b(information_schema\.\w+)"
        r"|\b(?:__ducklake_metadata\w*|ducklake_meta\w*?)\.(ducklake_\w+)"
        r"|\b(ducklake_\w+)\s*\(\s*((?:" + _SQL_ARG + r")(?:\s*,\s*"
        + _SQL_ARG + r")*)?\s*\)"
        r"|(?<![\w.])([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"
        r"(?:\s+AT\s*\(\s*(VERSION|TIMESTAMP)\s*=>\s*('[^']*'|\d+)\s*\))?",
        re.I)

    def _sql_arg(self, raw: str):
        raw = raw.strip()
        if raw.isdigit():
            return int(raw)
        if raw.upper().replace(" ", "").startswith("NOW("):
            return self.provider.get_current_snapshot()
        raw = re.sub(r"^(?:DATE|TIMESTAMP)\s*", "", raw, flags=re.I)
        return raw[1:-1].replace("''", "'")

    def _resolve_relations(self, query: str) -> str:
        """Bind every catalog relation ``query`` names and point each
        reference at its temp view. Metadata relations are built now by
        their operators/info_schema builder at the pin."""
        from .operators import info_schema

        def sub(m: "re.Match[str]") -> str:
            literal, dotted, meta, fn, raw_args, ref, kind, raw = m.groups()
            if literal:
                return literal
            if ref:
                return (self._bind_at(ref, kind, raw) if kind
                        else self._bind_name(ref))
            args = ()
            if fn:
                if fn.lower() not in info_schema.RELATIONS:
                    return m.group(0)
                name = fn
                args = tuple(self._sql_arg(a) for a in
                             re.findall(self._SQL_ARG, raw_args or "", re.I))
            else:
                name = dotted or f"ducklake_metadata.{meta}"
            view = "__ducklake_" + re.sub(r"\W", "_", name.lower())
            if args:
                view += f"_{zlib.crc32(repr(args).encode()):08x}"
            df = info_schema.relation(self, name, args)
            # metadata is read at the pin: a view body naming it is
            # rebuilt whenever the pin moves
            self._uses((view, "metadata"))
            self._publish(view, df)
            if self._published is not None:
                self._published.append((view, df))
            return view

        return self._RELATION_RE.sub(sub, query)

    def _register_st_functions(self, query: str) -> None:
        if not self._st_registered and \
                re.search(r"\bst_\w+\s*\(", query, re.I):
            self.register_sql_functions()

    def _plan_view_body(self, body: str) -> DataFrame:
        """A persisted view body planned at the pin, its relations bound.
        The stored text itself is never rewritten."""
        self._register_st_functions(body)
        with self._statement():
            return self.spark.sql(self._resolve_relations(body))

    # -- SQL-callable DML (simple single-statement forms; the corpus
    #    drives DML through SQL, sql/delete/ sql/update/ sql/insert/) ----

    _DELETE_RE = re.compile(
        r"^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?"
        r"(?!USING\b|WHERE\b)(\w+))?"
        r"(?:\s+USING\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?"
        r"(?!WHERE\b)(\w+))?)?"
        r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.I | re.S)
    _TRUNCATE_RE = re.compile(
        r"^\s*TRUNCATE(?:\s+TABLE)?\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I)
    _UPDATE_RE = re.compile(
        r"^\s*UPDATE\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?"
        r"\s+SET\s+(.*?)"
        r"(?:\s+FROM\s+([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?"
        r"(?!WHERE\b)(\w+))?)?"
        r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.I | re.S)
    _INSERT_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)\s*"
        r"(?:\(([^)]*)\)\s*)?(VALUES\s*\(.*|(?:SELECT|WITH)\s.*?)\s*;?\s*$",
        re.I | re.S)
    _ALTER_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+"
        r"(?:RENAME\s+COLUMN\s+([\w.]+)\s+TO\s+(\w+)"
        r"|ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+"
        r"([\w()<>,:\[\] ]+?)(?:\s+DEFAULT\s+(.+?))?"
        r"|DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?([\w.]+)"
        r"|ALTER\s+(?:COLUMN\s+)?(\w+)\s+(SET|DROP)\s+NOT\s+NULL"
        r"|RENAME\s+TO\s+(\w+)"
        r"|ALTER\s+(?:COLUMN\s+)?(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+"
        r"([\w()<>,:\[\] ]+)"
        r")\s*;?\s*$", re.I | re.S)
    _ALTER_DEFAULT_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+"
        r"ALTER\s+(?:COLUMN\s+)?(\w+)\s+"
        r"(?:SET\s+DEFAULT\s+(.+?)|(DROP)\s+DEFAULT)"
        r"\s*;?\s*$", re.I | re.S)
    _INSERT_DEFAULTS_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)\s+DEFAULT\s+VALUES"
        r"\s*;?\s*$", re.I)
    _ALTER_VIEW_RE = re.compile(
        r"^\s*ALTER\s+VIEW\s+([A-Za-z_][\w.]*)\s+RENAME\s+TO\s+(\w+)"
        r"\s*;?\s*$", re.I)
    _IF_NOT_EXISTS_COL_RE = re.compile(
        r"ADD\s+COLUMN\s+IF\s+NOT\s+EXISTS", re.I)
    _IF_EXISTS_COL_RE = re.compile(
        r"DROP\s+COLUMN\s+IF\s+EXISTS", re.I)
    _CTAS_RE = re.compile(
        r"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+"
        r"([A-Za-z_][\w.]*)\s+AS\s+(SELECT\s.*?)"
        r"\s*;?\s*$", re.I | re.S)
    _CREATE_COLS_RE = re.compile(
        r"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w.]*)\s*\((.+?)\)"
        r"(?:\s+PARTITIONED\s+BY\s*\(([^)]*(?:\([^)]*\)[^)]*)*)\))?"
        r"\s*;?\s*$", re.I | re.S)
    _MERGE_RE = re.compile(
        r"^\s*MERGE\s+INTO\s+([A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
        r"\s+USING\s+(\(.*?\)|[A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?!USING\b|ON\b|WHEN\b)(\w+))?"
        r"\s+(?:ON\s+(.*?)|USING\s*\(([^()]*)\))"
        r"\s+(WHEN\s+.*?)\s*;?\s*$", re.I | re.S)
    _MERGE_WHEN_UPDATE_RE = re.compile(
        r"^WHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+UPDATE"
        r"(?:\s+SET\s+(.*))?\s*$", re.I | re.S)
    _MERGE_WHEN_DELETE_RE = re.compile(
        r"^WHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+DELETE\s*$",
        re.I | re.S)
    _MERGE_WHEN_ERROR_RE = re.compile(
        r"^WHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+ERROR\s*$",
        re.I | re.S)
    _MERGE_WHEN_INSERT_RE = re.compile(
        r"^WHEN\s+NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?(?:AND\s+(.*?)\s+)?"
        r"THEN\s+INSERT(?:\s*\*)?\s*$", re.I | re.S)
    _MERGE_WHEN_INSERT_VALUES_RE = re.compile(
        r"^WHEN\s+NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?(?:AND\s+(.*?)\s+)?"
        r"THEN\s+INSERT\s*\(([^)]*)\)\s*"
        r"VALUES\s*\((.*)\)\s*$", re.I | re.S)
    _MERGE_WHEN_BY_SOURCE_DELETE_RE = re.compile(
        r"^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.*?)\s+)?"
        r"THEN\s+DELETE\s*$", re.I | re.S)
    _DROP_RE = re.compile(
        r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)"
        r"\s*;?\s*$", re.I)
    _CREATE_VIEW_RE = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w.]*)\s+AS\s+"
        r"((?:SELECT|WITH)\s.*?)\s*;?\s*$", re.I | re.S)
    _DROP_VIEW_RE = re.compile(
        r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)"
        r"\s*;?\s*$", re.I)
    _CREATE_MATVIEW_RE = re.compile(
        r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w.]*)\s+AS\s+"
        r"((?:SELECT|WITH)\s.*?)\s*;?\s*$", re.I | re.S)
    _DROP_MATVIEW_RE = re.compile(
        r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?"
        r"([A-Za-z_][\w.]*)\s*;?\s*$", re.I)
    _REFRESH_MATVIEW_RE = re.compile(
        r"^\s*CALL\s+ducklake_refresh_materialized_view\s*\(\s*"
        r"'([^']*)'\s*\)\s*;?\s*$", re.I)

    @staticmethod
    def _split_top_level(s: str, sep: str = ",",
                         angle: bool = False) -> list[str]:
        """Split on ``sep`` outside quotes/parens (SET-clause commas can
        appear inside function calls and string literals). ``angle=True``
        also nests on <...> — for column-definition lists where
        STRUCT<...>/MAP<...> carry commas; never for expressions, where
        < and > are comparison operators."""
        parts, depth, cur, quote = [], 0, [], None
        opens = "([<" if angle else "(["
        closes = ")]>" if angle else ")]"
        for ch in s:
            if quote:
                cur.append(ch)
                if ch == quote:
                    quote = None
            elif ch in ("'", '"'):
                quote = ch
                cur.append(ch)
            elif ch in opens:
                depth += 1
                cur.append(ch)
            elif ch in closes:
                depth -= 1
                cur.append(ch)
            elif ch == sep and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if cur:
            parts.append("".join(cur).strip())
        return parts

    def _count_df(self, n: int) -> DataFrame:
        """DML statements return a 1-row count batch, the reference's
        INSERT convention (insert_exec.rs:24-31)."""
        return local_df(self.spark, [(n,)], "count BIGINT")

    _TXN_RE = re.compile(
        r"^\s*(BEGIN(?:\s+TRANSACTION)?|COMMIT|ROLLBACK)\s*;?\s*$", re.I)
    _PARTITION_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+"
        r"(?:SET\s+PARTITIONED\s+BY\s*\((.*)\)"
        r"|(RESET)\s+PARTITIONED\s+BY)\s*;?\s*$", re.I)
    _COMMENT_RE = re.compile(
        r"^\s*COMMENT\s+ON\s+(TABLE|COLUMN)\s+([A-Za-z_][\w.]*)\s+IS\s+"
        r"(NULL|'(?:[^']|'')*')\s*;?\s*$", re.I)
    _COMMENT_FN_RE = re.compile(
        r"ducklake_table_comment\(\s*'([^']*)'\s*\)"
        r"|ducklake_column_comment\(\s*'([^']*)'\s*,\s*'([^']*)'\s*\)",
        re.I)

    def _resolve_comment_calls(self, query: str) -> str:
        """Plan-time resolution of ducklake_table_comment('t') /
        ducklake_column_comment('t','c') to literals, in the manner of
        ``_resolve_relations``."""
        def sub(m):
            if m.group(1):
                v = self.table_comment(m.group(1))
            else:
                v = self.column_comment(m.group(2), m.group(3))
            return ("NULL" if v is None
                    else "'" + v.replace("'", "''") + "'")
        return self._COMMENT_FN_RE.sub(sub, query)
    _CREATE_MACRO_RE = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+"
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*"
        r"\(([^)]*)\)\s+AS\s+(TABLE\s+)?(.*?)\s*;?\s*$", re.I | re.S)
    _DROP_MACRO_RE = re.compile(
        r"^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?"
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*;?\s*$", re.I)

    _MULTI_MACRO_HEAD_RE = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+"
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*"
        r"(\(.*)\s*;?\s*$", re.I | re.S)
    _MACRO_SIG_RE = re.compile(
        r"^\s*\(([^)]*)\)\s+AS\s+(TABLE\s+)?(.*)$", re.I | re.S)

    def _parse_macro_params(self, raw: str) -> list[tuple]:
        """[(name, default|None, declared_type|None), ...] from a macro
        signature. A parameter may carry a declared type (upstream
        sql/macros/test_defined_types.test: ``x INTEGER``, ``x BIGINT :=
        1``) — recorded in ducklake_macro_parameters.parameter_type;
        expansion itself stays untyped, like DuckDB's macros."""
        from .types import normalize_ducklake_type
        params = []
        if raw.strip():
            for p in self._split_top_level(raw):
                pn, sep, dflt = p.partition(":=")
                tokens = pn.strip().split(None, 1)
                ptype = None
                if len(tokens) == 2:
                    ptype = normalize_ducklake_type(tokens[1].strip())
                params.append((tokens[0] if tokens else pn.strip(),
                               dflt.strip() if sep else None, ptype))
        return params

    def _macro_schema_id(self, name: str) -> tuple[str, int]:
        """(bare_name, schema_id) for a possibly schema-qualified macro
        name (sql/macros/test_schema_dependency.test)."""
        if "." not in name:
            return name, 0
        schema_name, bare = name.split(".", 1)
        snap = self.provider.get_current_snapshot()
        for s in self.provider.list_schemas(snap):
            if s.schema_name.lower() == schema_name.lower():
                return bare, int(s.schema_id)
        raise InvalidConfig(f"Schema not found: {schema_name}")

    def _try_macro_ddl(self, query: str) -> Optional[DataFrame]:
        from .table_writer import _catalog_writer
        mm = self._MULTI_MACRO_HEAD_RE.match(query)
        if mm:
            # multi-arity form (sql/macros/test_multiple_implementations
            # .test): CREATE MACRO f () AS 0, (a) AS a, (a, b) AS a+b.
            # Top-level commas split candidate segments; a segment that
            # does not open a new "(sig) AS" belongs to the previous body.
            pieces = self._split_top_level(mm.group(3))
            segs: list[str] = []
            for piece in pieces:
                if segs and not self._MACRO_SIG_RE.match(piece):
                    segs[-1] += ", " + piece
                else:
                    segs.append(piece)
            if len(segs) > 1 and all(self._MACRO_SIG_RE.match(s)
                                     for s in segs):
                bare, schema_id = self._macro_schema_id(mm.group(2))
                writer = _catalog_writer(self)
                try:
                    for seg in segs:
                        sm = self._MACRO_SIG_RE.match(seg)
                        params = self._parse_macro_params(sm.group(1))
                        kind = "table" if sm.group(2) else "scalar"
                        writer.create_macro(
                            bare, params,
                            sm.group(3).rstrip().rstrip(";"), kind,
                            replace=bool(mm.group(1)), arity_scoped=True,
                            schema_id=schema_id)
                finally:
                    writer.close()
                self.refresh()
                return self._count_df(0)
        m = self._CREATE_MACRO_RE.match(query)
        if m:
            params = self._parse_macro_params(m.group(3))
            kind = "table" if m.group(4) else "scalar"
            bare, schema_id = self._macro_schema_id(m.group(2))
            writer = _catalog_writer(self)
            try:
                writer.create_macro(bare, params, m.group(5), kind,
                                    replace=bool(m.group(1)),
                                    schema_id=schema_id)
            finally:
                writer.close()
            self.refresh()
            return self._count_df(0)
        m = self._DROP_MACRO_RE.match(query)
        if m:
            bare, schema_id = self._macro_schema_id(m.group(2))
            writer = _catalog_writer(self)
            try:
                found = writer.drop_macro(
                    bare, schema_id=schema_id if "." in m.group(2)
                    else None)
            finally:
                writer.close()
            if not found and not m.group(1):
                raise InvalidConfig(f"macro not found: {m.group(2)}")
            self.refresh()
            return self._count_df(0)
        return None

    def _live_macros(self) -> list:
        if self._macros is None:
            self._macros = self.provider.list_macros(
                self.catalog.snapshot_id)
        return self._macros

    _CALL_RE = re.compile(
        r"^\s*CALL\s+ducklake_(expire_snapshots|cleanup_old_files"
        r"|flush_inlined_data)"
        r"\s*\(\s*(\d*|'[^']*')\s*\)\s*;?\s*$", re.I)
    _CLEANUP_NAMED_RE = re.compile(
        r"^\s*CALL\s+ducklake_cleanup_old_files\s*\(\s*"
        r"((?:(?:dry_run|cleanup_all)\s*=>\s*(?:true|false)\s*,?\s*)+)"
        r"\)\s*;?\s*$", re.I)
    _SET_OPTION_RE = re.compile(
        r"^\s*CALL\s+ducklake_set_option\s*\(\s*'([^']*)'\s*,\s*"
        r"(NULL|TRUE|FALSE|-?\d+(?:\.\d+)?|'[^']*')\s*"
        r"((?:,\s*(?:table_name|schema)\s*=>\s*'[^']*'\s*)*)\)\s*;?\s*$",
        re.I)
    _SET_OPTION_SCOPE_RE = re.compile(
        r"(table_name|schema)\s*=>\s*'([^']*)'", re.I)
    _ADD_FILES_RE = re.compile(
        r"^\s*CALL\s+ducklake_add_data_files\s*\((.*)\)\s*;?\s*$",
        re.I | re.S)
    _COMMIT_MSG_RE = re.compile(
        r"^\s*CALL\s+ducklake_set_commit_message\s*\(\s*"
        r"(NULL|'[^']*')\s*,\s*(NULL|'[^']*')\s*\)\s*;?\s*$", re.I)
    _EXPIRE_NAMED_RE = re.compile(
        r"^\s*CALL\s+ducklake_expire_snapshots\s*\(\s*"
        r"((?:(?:versions\s*=>\s*\[[\d\s,]*\]|dry_run\s*=>\s*"
        r"(?:true|false)|older_than\s*=>\s*"
        r"(?:NOW\s*\(\s*\)|TIMESTAMP\s*'[^']*'|'[^']*'))\s*,?\s*)+)"
        r"\)\s*;?\s*$", re.I)
    _ORPHANS_RE = re.compile(
        r"^\s*CALL\s+ducklake_delete_orphaned_files\s*\(\s*"
        r"((?:(?:dry_run|cleanup_all)\s*=>\s*(?:true|false)\s*,?\s*)*)"
        r"\)\s*;?\s*$", re.I)
    _MERGE_ADJ_RE = re.compile(
        r"^\s*CALL\s+ducklake_merge_adjacent_files\s*\(\s*"
        r"(?:'([^']*)'\s*,?\s*)?"
        r"(?:max_compacted_files\s*=>\s*(NULL|-?\d+)\s*)?"
        r"\)\s*;?\s*$",
        re.I)
    _CLUSTER_BY_RE = re.compile(
        r"^\s*CALL\s+ducklake_cluster_by\s*\(\s*'([^']*)'\s*,\s*"
        r"'([^']*)'\s*,\s*(\d+)\s*"
        r"(?:,\s*sort\s*=>\s*(true|false)\s*)?"
        r"(?:,\s*replica\s*=>\s*(true|false)\s*)?\)\s*;?\s*$", re.I)
    _DROP_REPLICA_RE = re.compile(
        r"^\s*CALL\s+ducklake_drop_clustering_replica\s*\(\s*'([^']*)'"
        r"\s*(?:,\s*'([^']*)'\s*)?\)\s*;?\s*$", re.I)
    _REFRESH_REPLICA_RE = re.compile(
        r"^\s*CALL\s+ducklake_refresh_replica\s*\(\s*'([^']*)'"
        r"\s*(?:,\s*'([^']*)'\s*)?\)\s*;?\s*$", re.I)
    _REWRITE_FILES_RE = re.compile(
        r"^\s*CALL\s+ducklake_rewrite_data_files\s*\(\s*"
        r"(?:('[^']*'|(?!delete_threshold\b)[\w.]+)\s*)?"
        r"(?:,\s*('[^']*'|[\w.]+)\s*)?"
        r"(?:,?\s*delete_threshold\s*=>\s*([^\s,)]+)\s*)?\)\s*;?\s*$",
        re.I)
    _CHECKPOINT_RE = re.compile(r"^\s*CHECKPOINT\s*;?\s*$", re.I)
    _COPY_RE = re.compile(
        r"^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'([^']+)'"
        r"\s*(?:\(([^)]*)\))?\s*;?\s*$", re.I | re.S)
    _SHOW_TABLES_RE = re.compile(
        r"^\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([A-Za-z_]\w*))?\s*;?\s*$",
        re.I)
    _DESCRIBE_RE = re.compile(
        r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
        re.I)
    _CREATE_SCHEMA_RE = re.compile(
        r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)"
        r"\s*;?\s*$", re.I)
    _DROP_SCHEMA_RE = re.compile(
        r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)"
        r"\s*(CASCADE)?\s*;?\s*$", re.I)

    def _resolve_df(self, name: str) -> DataFrame:
        """A joinable DataFrame for a DML source reference: a fresh scan
        of a lake table at the pin, else the bound catalog view or any
        other Spark view of that name."""
        if isinstance(self._relation(name)[1], TableMeta):
            return self.table(name)
        return self.spark.table(self._resolve_relations(name))

    def _try_dml(self, query: str) -> Optional[DataFrame]:
        m = self._CALL_RE.match(query)
        if m:
            fn, arg = m.group(1).lower(), m.group(2)
            if fn == "expire_snapshots":
                n = self.expire_snapshots(int(arg) if arg else None)
                return self._count_df(n)
            if fn == "flush_inlined_data":
                if not arg:
                    # whole-catalog form (the upstream CALL's arg is the
                    # attached catalog name; bare parens here)
                    return self._count_df(self.flush_inlined_data())
                if not (arg.startswith("'") and arg.endswith("'")):
                    raise InvalidConfig(
                        "ducklake_flush_inlined_data needs a quoted "
                        "table name (or no argument for all tables)")
                return self._count_df(
                    self.flush_inlined_data(arg[1:-1]))
            return self._count_df(len(self.cleanup_old_files()))
        m = self._CLEANUP_NAMED_RE.match(query)
        if m:
            # named args (sql/compaction/small_insert_compaction.test):
            # dry_run counts without deleting; cleanup_all ignores the
            # delete_older_than retention option
            opts = {k.lower(): v.lower() == "true" for k, v in re.findall(
                r"(dry_run|cleanup_all)\s*=>\s*(true|false)",
                m.group(1), re.I)}
            return self._count_df(len(self.cleanup_old_files(
                dry_run=opts.get("dry_run", False),
                cleanup_all=opts.get("cleanup_all", False))))
        m = self._SET_OPTION_RE.match(query)
        if m:
            raw = m.group(2)
            value = (None if raw.upper() == "NULL"
                     else raw[1:-1] if raw.startswith("'") else raw)
            scopes = {k.lower(): v for k, v in
                      self._SET_OPTION_SCOPE_RE.findall(m.group(3) or "")}
            self.set_option(m.group(1), value,
                            table_name=scopes.get("table_name"),
                            schema=scopes.get("schema"))
            return self._count_df(0)
        m = self._COMMIT_MSG_RE.match(query)
        if m:
            unq = lambda s: None if s.upper() == "NULL" else s[1:-1]  # noqa: E731
            self.set_commit_message(unq(m.group(1)), unq(m.group(2)))
            return self._count_df(0)
        m = self._EXPIRE_NAMED_RE.match(query)
        if m:
            # named form (sql/compaction/expire_snapshots.test):
            # versions => [..] selects exact snapshots; dry_run counts
            vm = re.search(r"versions\s*=>\s*\[([\d\s,]*)\]",
                           m.group(1), re.I)
            versions = ([int(x) for x in vm.group(1).split(",")
                         if x.strip()] if vm else None)
            dm = re.search(r"dry_run\s*=>\s*(true|false)", m.group(1), re.I)
            om = re.search(r"older_than\s*=>\s*(NOW\s*\(\s*\)|"
                           r"TIMESTAMP\s*'([^']*)'|'([^']*)')",
                           m.group(1), re.I)
            older_than = None
            if om:
                older_than = ("now" if om.group(1).upper().startswith("NOW")
                              else (om.group(2) or om.group(3)))
            return self._count_df(self.expire_snapshots(
                versions=versions, older_than=older_than,
                dry_run=bool(dm and dm.group(1).lower() == "true")))
        m = self._ORPHANS_RE.match(query)
        if m:
            opts = {k.lower(): v.lower() == "true" for k, v in re.findall(
                r"(dry_run|cleanup_all)\s*=>\s*(true|false)",
                m.group(1), re.I)}
            return self._count_df(len(self.delete_orphaned_files(
                dry_run=opts.get("dry_run", False),
                cleanup_all=opts.get("cleanup_all", False))))
        m = self._MERGE_ADJ_RE.match(query)
        if m:
            mx = m.group(2)
            if mx is not None and mx.upper() == "NULL":
                raise InvalidConfig("The max_compacted_files option must "
                                    "be a non-null integer")
            return self._count_df(self.merge_adjacent_files(
                table_name=m.group(1),
                max_compacted_files=int(mx) if mx is not None else None))
        m = self._CLUSTER_BY_RE.match(query)
        if m:
            # CALL ducklake_cluster_by('table', 'key', buckets
            # [, sort => true|false] [, replica => true|false]) — beyond
            # the reference (layout metadata a single-node engine never
            # needed); replica => true builds a SECOND clustered family
            # without touching the live file set (operators/layout)
            sort = (m.group(4) or "true").lower() == "true"
            replica = (m.group(5) or "false").lower() == "true"
            return self._count_df(self.cluster_by(
                m.group(1), m.group(2), int(m.group(3)), sort=sort,
                replica=replica))
        m = self._DROP_REPLICA_RE.match(query)
        if m:
            # CALL ducklake_drop_clustering_replica('table' [, 'key']) —
            # disposal for DML-invalidated replicas (files become
            # orphans the next sweep collects)
            return self._count_df(self.drop_clustering_replica(
                m.group(1), m.group(2)))
        m = self._REFRESH_REPLICA_RE.match(query)
        if m:
            # CALL ducklake_refresh_replica('table' [, 'key']) — rebuild
            # diverged replica families (see refresh_replica; staleness
            # is visible via ducklake_clustering_info())
            return self._count_df(self.refresh_replica(
                m.group(1), m.group(2)))
        m = self._REFRESH_MATVIEW_RE.match(query)
        if m:
            # CALL ducklake_refresh_materialized_view('name') — returns
            # the refresh mode so SQL callers see which path ran
            out = self.refresh_materialized_view(m.group(1))
            return local_df(self.spark, [(out["mode"], out["snapshot"])],
                            "mode STRING, snapshot BIGINT")
        m = self._REWRITE_FILES_RE.match(query)
        if m:
            # two positional names = (catalog_alias, table) — the alias
            # is implicit here, as with the other maintenance CALLs; no
            # name at all = every table (upstream's whole-DB
            # ducklake_rewrite_data_files('ducklake') form)
            name = m.group(2) or m.group(1)
            name = name.strip("'") if name is not None else None
            thr = m.group(3)
            if thr is not None:
                try:
                    thr = float(thr)
                except ValueError:
                    raise InvalidConfig(
                        "The delete_threshold option must be between "
                        "0 and 1")
            return self._count_df(self.rewrite_data_files(
                name, delete_threshold=self._rewrite_threshold(thr)))
        m = self._CHECKPOINT_RE.match(query)
        if m:
            return self._count_df(self.checkpoint())
        m = self._COPY_RE.match(query)
        if m:
            return self._count_df(self.copy_to(
                m.group(1), m.group(2), m.group(3) or ""))
        m = self._SHOW_TABLES_RE.match(query)
        if m:
            snap = self.catalog.snapshot_id
            target = m.group(1)
            rows = [(s, t.table_name)
                    for s, t in self.provider.list_all_tables(snap)
                    if target is None or s == target]
            return local_df(self.spark, rows,
                            "schema_name STRING, table_name STRING")
        m = self._DESCRIBE_RE.match(query)
        if m:
            handle = self.table_handle(
                m.group(1) if "." in m.group(1)
                else f"{DEFAULT_SCHEMA}.{m.group(1)}")
            rows = [(c.column_name, c.column_type,
                     "YES" if c.nulls_allowed else "NO", c.default_value)
                    for c in handle.columns]
            return local_df(self.spark, rows,
                            "column_name STRING, column_type STRING, "
                            "null STRING, default STRING")
        m = self._CREATE_SCHEMA_RE.match(query)
        if m:
            # multi-schema DDL (corpus: sql/catalog/schema.test)
            from .table_writer import _catalog_writer
            writer = _catalog_writer(self)
            try:
                writer.create_schema(m.group(2),
                                     if_not_exists=bool(m.group(1)))
            finally:
                writer.close()
            self.refresh()
            return self._count_df(0)
        m = self._DROP_SCHEMA_RE.match(query)
        if m:
            from .table_writer import _catalog_writer
            writer = _catalog_writer(self)
            try:
                writer.drop_schema(m.group(2),
                                   if_exists=bool(m.group(1)),
                                   cascade=bool(m.group(3)))
            finally:
                writer.close()
            self.refresh()
            return self._count_df(0)
        m = self._ADD_FILES_RE.match(query)
        if m:
            # CALL ducklake_add_data_files('table', 'path'[, 'path'...]
            #     [, allow_missing => true][, hive_partitioning => bool])
            # — the reference's add_files SQL surface, single-catalog form
            strings: list[str] = []
            opts: dict[str, bool] = {}
            for part in self._split_top_level(m.group(1)):
                part = part.strip()
                if part.startswith("'") and part.endswith("'"):
                    strings.append(part[1:-1])
                    continue
                if part.startswith("[") and part.endswith("]"):
                    # list-literal form: CALL ducklake_add_data_files(
                    # 'table', ['a.parquet', 'b.parquet'])  — corpus
                    # sql/add_files/add_files_list.test
                    for sub in self._split_top_level(part[1:-1]):
                        sub = sub.strip()
                        if not (sub.startswith("'") and sub.endswith("'")):
                            raise InvalidConfig(
                                f"ducklake_add_data_files: bad path list "
                                f"element {sub!r}")
                        strings.append(sub[1:-1])
                    continue
                key, arrow, val = part.partition("=>")
                key, val = key.strip().lower(), val.strip().lower()
                if not arrow or key not in (
                        "allow_missing", "hive_partitioning",
                        "ignore_extra_columns") or \
                        val not in ("true", "false"):
                    raise InvalidConfig(
                        f"ducklake_add_data_files: bad argument {part!r}")
                opts[key] = val == "true"
            if len(strings) < 2:
                raise InvalidConfig(
                    "ducklake_add_data_files needs ('table', 'path', ...)")
            n = self.add_files(
                strings[0], strings[1:],
                allow_missing=opts.get("allow_missing", False),
                hive_partitioning=opts.get("hive_partitioning"),
                ignore_extra_columns=opts.get("ignore_extra_columns",
                                              False))
            return self._count_df(n)
        m = self._TXN_RE.match(query)
        if m:
            word = m.group(1).split()[0].upper()
            if word == "BEGIN":
                self.begin_transaction()
            elif word == "COMMIT":
                self.commit()
            else:
                self.rollback()
            return self._count_df(0)
        m = self._TRUNCATE_RE.match(query)
        if m:
            # TRUNCATE == unconditional delete (corpus:
            # sql/delete/truncate_table.test)
            return self._count_df(self.delete_from(m.group(1), "true"))
        m = self._DELETE_RE.match(query)
        if m:
            target, talias, src, salias, cond = m.groups()
            if src is None:
                return self._count_df(
                    self.delete_from(target, cond or "true"))
            # DELETE ... USING (sql/delete/delete_join.test): the using
            # side may be a lake table or any registered view; both
            # sides get their (alias or bare) names so the condition's
            # qualified references resolve
            from .operators.dml import delete_rows
            using_df = self._resolve_df(src).alias(
                salias or src.rsplit(".", 1)[-1])
            n = delete_rows(
                self, target, cond or "true", using=using_df,
                target_alias=talias or target.rsplit(".", 1)[-1])
            return self._count_df(n)
        m = self._UPDATE_RE.match(query)
        if m:
            target, talias, sets, src, salias, cond = m.groups()
            assignments = {}
            for part in self._split_top_level(sets):
                col, _, expr = part.partition("=")
                if not _:
                    raise InvalidConfig(f"UPDATE: bad SET clause {part!r}")
                assignments[col.strip()] = expr.strip()
            if src is None:
                return self._count_df(
                    self.update_where(target, assignments, cond))
            # UPDATE ... FROM (sql/update/update_join tests): inner join
            # to the source, ambiguous multi-matches rejected
            from .operators.dml import update_rows
            from_df = self._resolve_df(src).alias(
                salias or src.rsplit(".", 1)[-1])
            return self._count_df(update_rows(
                self, target, assignments, cond, from_df=from_df,
                target_alias=talias or target.rsplit(".", 1)[-1]))
        m = self._PARTITION_RE.match(query)
        if m:
            cols = ([] if m.group(3)
                    else [c.strip() for c in m.group(2).split(",")])
            self.set_partitioned_by(m.group(1), cols)
            return self._count_df(0)
        m = self._COMMENT_RE.match(query)
        if m:
            lit = m.group(3)
            comment = (None if lit.upper() == "NULL"
                       else lit[1:-1].replace("''", "'"))
            if m.group(1).upper() == "TABLE":
                self.comment_on_table(m.group(2), comment)
            else:
                tbl, _, col = m.group(2).rpartition(".")
                if not tbl:
                    raise InvalidConfig(
                        "COMMENT ON COLUMN needs table.column")
                self.comment_on_column(tbl, col, comment)
            return self._count_df(0)
        m = self._ALTER_VIEW_RE.match(query)
        if m:
            self.rename_view(m.group(1), m.group(2))
            return self._count_df(0)
        m = self._ALTER_DEFAULT_RE.match(query)
        if m:
            # sql/default/add_column_with_default.test: SET DEFAULT
            # changes future inserts only; DROP DEFAULT clears it
            self.set_column_default(
                m.group(1), m.group(2),
                None if m.group(4) else m.group(3).strip())
            return self._count_df(0)
        m = self._INSERT_DEFAULTS_RE.match(query)
        if m:
            # INSERT INTO t DEFAULT VALUES: one row of pure defaults
            handle = self.table_handle(m.group(1))
            from pyspark.sql import functions as F
            row = self.spark.range(1).select(*[
                (F.expr(c.default_value) if c.default_value is not None
                 else F.lit(None)).cast(f.dataType).alias(c.column_name)
                for c, f in zip(handle.columns,
                                handle.spark_schema.fields)])
            return self._count_df(self.insert_into(m.group(1), row))
        m = self._ALTER_RE.match(query)
        if m:
            name = m.group(1)
            if m.group(2):
                self.rename_column(name, m.group(2), m.group(3))
            elif m.group(4):
                default = m.group(6).strip() if m.group(6) else None
                self.add_column(name, m.group(4), m.group(5).lower(),
                                default=default,
                                if_not_exists=bool(
                                    self._IF_NOT_EXISTS_COL_RE.search(query)))
            elif m.group(8):
                if m.group(9).upper() == "SET":
                    self.set_not_null(name, m.group(8))
                else:
                    self.drop_not_null(name, m.group(8))
            elif m.group(10):
                self.rename_table(name, m.group(10))
            elif m.group(11):
                self.promote_column_type(name, m.group(11),
                                         m.group(12).strip())
            else:
                self.drop_column(name, m.group(7),
                                 if_exists=bool(
                                     self._IF_EXISTS_COL_RE.search(query)))
            return self._count_df(0)
        m = self._CTAS_RE.match(query)
        if m:
            df = self.sql(m.group(3))
            if m.group(1):
                # CREATE OR REPLACE TABLE ... AS: one Replace snapshot
                # when the table exists, plain create otherwise. The
                # DEFINITION is replaced — constraints/defaults come
                # from the new schema, not retained from the old one
                # (reference semantics: create_conflict.test:36 replaces
                # the whole definition) — while column ids stay stable
                # for time travel / CDC continuity.
                try:
                    self.table_handle(m.group(2))
                    from .table_writer import create_or_insert
                    return self._count_df(create_or_insert(
                        self, m.group(2), df, mode="overwrite",
                        replace_definition=True))
                except (TableNotFound, SchemaNotFound):
                    pass
            return self._count_df(self.create_table(m.group(2), df))
        m = self._CREATE_COLS_RE.match(query)
        if m:
            if m.group(1):
                # CREATE OR REPLACE TABLE (transaction/create_conflict
                # corpus): drop-if-exists then create fresh
                try:
                    self.drop_table(m.group(3))
                except (TableNotFound, SchemaNotFound):
                    pass
            self.create_empty_table(
                m.group(3), m.group(4),
                if_not_exists=bool(m.group(2)))
            if m.group(5):
                # CREATE TABLE ... PARTITIONED BY (a, year(b)) — the
                # one-statement convenience form of SET PARTITIONED BY
                self.set_partitioned_by(
                    m.group(3),
                    [c.strip() for c in m.group(5).split(",") if c.strip()])
            return self._count_df(0)
        m = self._DROP_RE.match(query)
        if m:
            ine = re.search(r"IF\s+EXISTS", query, re.I) is not None
            try:
                self.drop_table(m.group(1))
            except (TableNotFound, SchemaNotFound):
                # one table/view namespace (sql/view/
                # ducklake_view_table_conflict.test): DROP TABLE on a
                # name that exists as a VIEW is an error even with
                # IF EXISTS — the entity exists, its type is wrong
                if self._view_exists(m.group(1)):
                    raise InvalidConfig(
                        f"cannot drop view {m.group(1)!r} with DROP "
                        f"TABLE: the entity exists with type View, "
                        f"trying to drop type Table — use DROP VIEW")
                if not ine:
                    raise
            return self._count_df(0)
        m = self._CREATE_MATVIEW_RE.match(query)
        if m:
            self.create_materialized_view(m.group(2), m.group(3),
                                          if_not_exists=bool(m.group(1)))
            return self._count_df(0)
        m = self._DROP_MATVIEW_RE.match(query)
        if m:
            self.drop_materialized_view(m.group(2),
                                        if_exists=bool(m.group(1)))
            return self._count_df(0)
        m = self._CREATE_VIEW_RE.match(query)
        if m:
            self.create_view(m.group(3), m.group(4),
                             replace=bool(m.group(1)),
                             if_not_exists=bool(m.group(2)))
            return self._count_df(0)
        m = self._DROP_VIEW_RE.match(query)
        if m:
            ine = re.search(r"IF\s+EXISTS", query, re.I) is not None
            self.drop_view(m.group(1), if_exists=ine)
            return self._count_df(0)
        m = self._MERGE_RE.match(query)
        if m:
            return self._merge_sql(*m.groups())
        m = self._INSERT_RE.match(query)
        if m:
            name, col_list, body = m.group(1), m.group(2), m.group(3)
            if body.lstrip().upper().startswith("VALUES"):
                df = self.spark.sql(f"SELECT * FROM ({body})")
            else:
                df = self.sql(body)
            handle = self.table_handle(name)
            target_cols = [c.column_name for c in handle.columns]
            if col_list:
                names = [c.strip() for c in col_list.split(",")]
                unknown = [c for c in names if c not in target_cols]
                if unknown:
                    raise InvalidConfig(
                        f"INSERT: unknown columns {unknown} "
                        f"(table has {target_cols})")
            else:
                names = target_cols
            if len(df.columns) != len(names):
                raise InvalidConfig(
                    f"INSERT: {len(df.columns)} values for "
                    f"{len(names)} columns")
            # cast to the table's types — SQL literals otherwise shift
            # them (VALUES (1.0) parses as DECIMAL(2,1), not DOUBLE).
            # Omitted columns fill with their catalog default_value
            # (sql/default/ corpus) or NULL.
            from pyspark.sql import functions as F
            from pyspark.sql import types as T
            types = {f.name: f.dataType for f in handle.spark_schema.fields}
            defaults = {c.column_name: c.default_value
                        for c in handle.columns}
            # uuid columns store 16-byte binary; TEXT literals parse
            # (DuckDB's implicit VARCHAR→UUID cast), they don't
            # byte-encode (sql/add_files/add_files_type_check_uuid.test
            # fixes the on-disk shape)
            uuid_cols = {c.column_name for c in handle.columns
                         if c.column_type.strip().lower() == "uuid"}
            given = set(names)
            src_types = dict(zip(names, [f.dataType for f in df.schema.fields]))

            def coerce(expr, src_dt, dst_dt):
                # Spark's struct→struct cast is POSITIONAL; DuckDB (and
                # DuckLake struct evolution) match fields BY NAME — an
                # insert written against an older field order must not
                # silently swap values (sql/alter/struct_evolution*).
                # Align by name when both sides are structs whose field
                # sequences differ; extra source fields drop, missing
                # ones read NULL (DuckDB's struct cast semantics).
                if isinstance(dst_dt, T.StructType) \
                        and isinstance(src_dt, T.StructType):
                    src_map = {f.name.lower(): f for f in src_dt.fields}
                    if [f.name.lower() for f in src_dt.fields] \
                            == [f.name.lower() for f in dst_dt.fields]:
                        return expr.cast(dst_dt)
                    built = F.struct(*[
                        coerce(expr[src_map[f.name.lower()].name],
                               src_map[f.name.lower()].dataType,
                               f.dataType).alias(f.name)
                        if f.name.lower() in src_map
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in dst_dt.fields])
                    return F.when(expr.isNull(),
                                  F.lit(None).cast(dst_dt)).otherwise(built)
                if isinstance(dst_dt, T.ArrayType) \
                        and isinstance(src_dt, T.ArrayType) \
                        and isinstance(dst_dt.elementType, T.StructType):
                    return F.transform(
                        expr, lambda e: coerce(e, src_dt.elementType,
                                               dst_dt.elementType))
                if isinstance(dst_dt, T.MapType) \
                        and isinstance(src_dt, T.MapType) \
                        and isinstance(dst_dt.valueType, T.StructType):
                    return F.transform_values(
                        expr, lambda _k, v: coerce(v, src_dt.valueType,
                                                   dst_dt.valueType)
                    ).cast(dst_dt)
                return expr.cast(dst_dt)

            def filled(c):
                if c in given:
                    if c in uuid_cols and isinstance(src_types.get(c),
                                                     T.StringType):
                        return F.unhex(F.regexp_replace(
                            F.lower(F.col(c)), "-", "")).alias(c)
                    return coerce(F.col(c), src_types.get(c),
                                  types[c]).alias(c)
                if defaults.get(c) is not None:
                    return F.expr(defaults[c]).cast(types[c]).alias(c)
                return F.lit(None).cast(types[c]).alias(c)

            df = df.toDF(*names).select(*[filled(c) for c in target_cols])
            return self._count_df(self.insert_into(name, df))
        return None

    def _merge_sql(self, target: str, talias: str, using: str,
                   salias: str, on_sql: str, key_list: str,
                   whens: str) -> DataFrame:
        """MERGE INTO SQL surface (sql/merge/ corpus shape, incl. the
        merge_into_tpch.test_slow forms) over operators/dml.merge_rows:
        equality ON keys or a USING (k1, k2) key list, WHEN MATCHED
        [AND pred] THEN UPDATE [SET ...] / DELETE / ERROR, WHEN NOT
        MATCHED [BY TARGET] [AND pred] THEN INSERT [*|(cols) VALUES],
        WHEN NOT MATCHED BY SOURCE [AND pred] THEN DELETE. A bare
        UPDATE takes every source column. Alias-qualified references in
        SET exprs and predicates are rewritten to the joined frame's
        tgt./src. qualifiers, outside string literals."""
        if using.startswith("("):
            source = self.sql(using[1:-1].strip())
            src_names = set()
        else:
            source = self.sql(f"SELECT * FROM {using}")
            src_names = {using.lower(), using.rsplit(".", 1)[-1].lower()}
        if salias:
            src_names.add(salias.lower())
        if not src_names:
            raise InvalidConfig("MERGE: a subquery source needs an alias")
        tgt_names = {target.lower(), target.rsplit(".", 1)[-1].lower()}
        if talias:
            tgt_names.add(talias.lower())

        def requalify(expr: str) -> str:
            def sub(mm):
                q = mm.group(1).lower()
                if q in src_names:
                    return "src."
                if q in tgt_names:
                    return "tgt."
                return mm.group(0)
            parts = re.split(r"('(?:[^']|'')*')", expr)
            for i in range(0, len(parts), 2):
                parts[i] = re.sub(r"(?<![\w.`'])([A-Za-z_]\w*)\.",
                                  sub, parts[i])
            return "".join(parts)

        if key_list:
            # USING (k1, k2): same-named equality keys on both sides
            on_keys = [c.strip() for c in key_list.split(",") if c.strip()]
            if not on_keys:
                raise InvalidConfig("MERGE: empty USING key list")
        else:
            on_keys = []
            for eq in re.split(r"\s+AND\s+", on_sql.strip(), flags=re.I):
                em = re.fullmatch(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*", eq)
                if not em:
                    raise InvalidConfig(
                        f"MERGE: ON supports equality conjunctions only "
                        f"({eq!r})")
                lcol = em.group(1).rsplit(".", 1)[-1]
                rcol = em.group(2).rsplit(".", 1)[-1]
                if lcol.lower() != rcol.lower():
                    raise InvalidConfig(
                        "MERGE: ON keys must join same-named columns "
                        f"({em.group(1)} = {em.group(2)})")
                on_keys.append(lcol)

        update, delete, insert = None, False, False
        matched_pred, insert_pred, error = None, None, False
        by_source, by_source_pred = False, None
        saw_insert = saw_error = saw_by_source = False
        matched_action_seen_first = False

        def _set_matched_pred(pred):
            nonlocal matched_pred, matched_action_seen_first
            if update is not None or delete:
                raise InvalidConfig("MERGE: one matched action only")
            matched_pred = requalify(pred.strip()) if pred else None
            # clause order matters for a following THEN ERROR: DuckDB is
            # first-match-wins per row, so an action clause consumes the
            # rows its predicate selects before a later ERROR sees them
            matched_action_seen_first = not saw_error

        clauses = [c.strip() for c in
                   re.split(r"(?i)(?=WHEN\s)", whens) if c.strip()]
        for clause in clauses:
            um = self._MERGE_WHEN_UPDATE_RE.match(clause)
            if um:
                _set_matched_pred(um.group(1))
                if um.group(2) is None:
                    update = "source"   # bare UPDATE: take source columns
                    continue
                update = {}
                for part in self._split_top_level(um.group(2)):
                    col, eq, expr = part.partition("=")
                    if not eq:
                        raise InvalidConfig(
                            f"MERGE: bad UPDATE SET clause {part!r}")
                    update[col.strip().rsplit(".", 1)[-1]] = \
                        requalify(expr.strip())
                continue
            dm = self._MERGE_WHEN_DELETE_RE.match(clause)
            if dm:
                _set_matched_pred(dm.group(1))
                delete = True
                continue
            em = self._MERGE_WHEN_ERROR_RE.match(clause)
            if em:
                if saw_error:
                    raise InvalidConfig("MERGE: one THEN ERROR clause only")
                saw_error = True
                error = requalify(em.group(1).strip()) if em.group(1) \
                    else True
                continue
            bm = self._MERGE_WHEN_BY_SOURCE_DELETE_RE.match(clause)
            if bm:
                if saw_by_source:
                    raise InvalidConfig(
                        "MERGE: one NOT MATCHED BY SOURCE clause only")
                saw_by_source = True
                by_source = True
                by_source_pred = requalify(bm.group(1).strip()) \
                    if bm.group(1) else None
                continue
            im = self._MERGE_WHEN_INSERT_RE.match(clause)
            if im:
                if saw_insert:
                    raise InvalidConfig(
                        "MERGE: one NOT MATCHED insert clause only")
                saw_insert = True
                insert = True
                insert_pred = requalify(im.group(1).strip()) \
                    if im.group(1) else None
                continue
            iv = self._MERGE_WHEN_INSERT_VALUES_RE.match(clause)
            if iv:
                # INSERT (cols) VALUES (exprs): column -> requalified
                # src-side expression (merge corpus / geo_dml shape)
                if saw_insert:
                    raise InvalidConfig(
                        "MERGE: one NOT MATCHED insert clause only")
                saw_insert = True
                insert_pred = requalify(iv.group(1).strip()) \
                    if iv.group(1) else None
                cols = [c.strip().rsplit(".", 1)[-1]
                        for c in iv.group(2).split(",") if c.strip()]
                exprs = [requalify(e.strip()) for e in
                         self._split_top_level(iv.group(3))]
                if len(cols) != len(exprs):
                    raise InvalidConfig(
                        "MERGE: INSERT column list and VALUES arity differ")
                insert = dict(zip(cols, exprs))
                continue
            raise InvalidConfig(f"MERGE: unsupported clause {clause!r}")

        if error and matched_action_seen_first and (update is not None
                                                    or delete):
            # first-match-wins: rows the earlier action clause consumes
            # never reach the later ERROR. An unconditional earlier action
            # consumes every match, so the ERROR can never fire; a
            # predicate-gated one exempts exactly its rows.
            if matched_pred is None:
                error = False
            else:
                # COALESCE: a NULL action predicate does NOT consume the
                # row, so the ERROR clause must still see it
                guard = f"NOT COALESCE(({matched_pred}), FALSE)"
                error = guard if error is True \
                    else f"({error}) AND {guard}"

        counts = self.merge_into(target, source, on_keys,
                                 when_matched_update=update,
                                 when_matched_delete=delete,
                                 when_not_matched_insert=insert,
                                 when_matched_pred=matched_pred,
                                 when_not_matched_pred=insert_pred,
                                 when_matched_error=error,
                                 by_source_delete=by_source,
                                 by_source_pred=by_source_pred)
        return self._count_df(sum(counts.values()))

    def sql(self, query: str, args=None) -> DataFrame:
        """``args``: positional (list) or named (dict) parameters for
        ``?`` / ``:name`` markers, passed to Spark's parameterized SQL —
        the engine's prepared-statement surface (corpus:
        sql/general/prepared_statement.test). Queries only; DML/DDL
        statements do not take parameters."""
        is_query = re.match(r"\s*(SELECT|WITH|VALUES|TABLE|FROM)\b", query,
                            re.I)
        if args is not None and not is_query:
            raise InvalidConfig(
                "parameters are supported for queries, not DML/DDL")
        # GEOMETRY literal casts ('WKT'::GEOMETRY / CAST('WKT' AS
        # GEOMETRY)) become st_geomfromtext calls — Spark has no geometry
        # DataType, so the cast targets the WKB-binary representation
        # (geo corpus: sql/geo/ducklake_geometry.test:46).
        if re.search(r"::\s*GEOMETRY\b|AS\s+GEOMETRY\s*\)", query, re.I):
            query = re.sub(r"('(?:[^']|'')*')\s*::\s*GEOMETRY\b",
                           r"st_geomfromtext(\1)", query, flags=re.I)
            query = re.sub(r"CAST\s*\(\s*('(?:[^']|'')*')\s+AS\s+GEOMETRY"
                           r"\s*\)", r"st_geomfromtext(\1)", query,
                           flags=re.I)
        with self._statement() as published:
            ddl = self._try_macro_ddl(query)
            if ddl is not None:
                return ddl
            from .operators.macros import expand_macros
            query = expand_macros(query, self._live_macros())
            self._register_st_functions(query)
            if not is_query and re.search(r"\(\s*SELECT\b", query, re.I):
                # DML conditions and SET expressions reach Spark as raw text:
                # bind the relations their subqueries name
                self._resolve_relations(query)
            dml = self._try_dml(query)
            if dml is not None:
                return dml
            query = self._resolve_relations(self._resolve_comment_calls(query))
            if not is_query:
                # a command Spark keeps as text (CREATE TEMP VIEW, CACHE
                # TABLE) resolves the metadata views' names again later
                published.clear()
            if args is None:
                return self.spark.sql(query)
            return self.spark.sql(query, args)

    def refresh(self, settings: Optional[Settings] = None) -> None:
        """Re-pin to the latest snapshot (the reference re-creates its
        catalog per query session; hybrid_asyncdb.rs:120-144) and bring
        the relations this session has bound up to it, so a write's
        refresh pays for them, not the next read. Frames carry forward
        by snapshot:

        - at an unchanged pin every frame is kept, and no catalog
          statement runs beyond reading the head and the settings;
        - after commits, one ranged read of their change labels names
          the tables and views they touched. A frame is kept when its
          name still resolves to the same table or view, no label names
          that id, and, for a view, everything its body bound was kept.
          ``AT (…)`` bindings are kept;
        - everything is rebuilt when the labels cannot vouch for the
          range: a snapshot without labels or with one not understood,
          a ROLLBACK or expiry of the pin since, the head below the pin,
          or another data path (settings are not snapshot-versioned).

        A relation gone at the new pin, or one that no longer builds,
        loses its temp view; the next statement naming it raises.
        ``settings``: a write's own settings read (see
        DuckLakeCatalog)."""
        pin, data_path = self._pin, self.catalog.resolver.data_path
        self._pin = self.provider.head()
        self.catalog = DuckLakeCatalog(self.spark, self.provider,
                                       self._pin[0], settings)
        if self.catalog.resolver.data_path != data_path:
            keep = self._rebuild_all()
        elif self._pin == pin:
            keep = set(self._frames)
        else:
            keep = self._carried(pin)
        frames, views = self._frames, self._views
        self._frames = {k: frames[k] for k in keep}
        self._deps = {k: self._deps[k] for k in keep}
        self._views = {v: k for v, k in views.items() if k in keep}
        gone = {k for k in frames
                if k not in keep and not isinstance(k[1], int)
                and self._relation(k[0])[1] is None}
        for view, key in views.items():
            if key in keep:
                # another session may have re-pointed the name
                self._publish(view, frames[key])
            elif key in gone:
                self._release(view, frames[key])
        for view, key in views.items():
            if view in self._views or key in gone:
                continue
            try:
                self._bind(key, view)
            except (DuckLakeError, AnalysisException):
                # e.g. a view over a dropped table: raised again when a
                # statement names it
                self._release(view, frames[key])

    def _rebuild_all(self) -> set:
        self._names = self._macros = None
        return set()

    def _carried(self, pin: tuple) -> set:
        """The bound relation keys whose frames hold at the new pin,
        given the old ``pin`` (see refresh)."""
        (old, old_version), (head, version) = pin, self._pin
        old_version = old if old_version is None else old_version
        if head < old or version < old_version:
            return self._rebuild_all()
        changes = self.provider.get_snapshot_changes(old - 1, version)
        if old not in changes:          # rolled back or expired
            return self._rebuild_all()
        touched, renamed = set(), False
        for sid, text in changes.items():
            if sid <= old_version:      # the pin, or a rewind before it
                continue
            if text is None:            # a snapshot without labels
                return self._rebuild_all()
            for label in text.split(","):
                kind, _, oid = label.strip().partition(":")
                what = _CHANGE_LABELS.get(kind)
                if what is None or not oid.isdigit():
                    return self._rebuild_all()
                touched.add((what[0], int(oid)))
                renamed |= what[1]
        if renamed:                     # DROP SCHEMA ends macros too
            self._names = self._macros = None
        carried: dict[tuple, bool] = {}

        def same(key: tuple, ident: Optional[tuple]) -> bool:
            if ident is None:           # AT (…): one snapshot for good
                return True
            if ident in touched:
                return False
            # with names moved, a view body may name something new
            return not renamed or (ident[0] == "table"
                                   and self._identity(key) == ident)

        def holds(key: tuple) -> bool:
            if key not in carried:
                # metadata a view body read is never carried
                dep = self._deps.get(key)
                carried[key] = dep is not None and same(key, dep[0]) \
                    and all(holds(u) for u in dep[1])
            return carried[key]

        return {k for k in self._frames if holds(k)}

    # -- info-schema / CDC / write entry points (other modules) ------------

    def snapshots(self) -> DataFrame:
        from .operators.info_schema import snapshots_df
        return snapshots_df(self)

    def table_info(self) -> DataFrame:
        from .operators.info_schema import table_info_df
        return table_info_df(self)

    def list_files(self, table: str = None,
                   snapshot_version: int = None) -> DataFrame:
        """ducklake_list_files parity incl. the optional table filter and
        ``snapshot_version =>`` as-of listing (sql/list_files/ corpus)."""
        from .operators.info_schema import files_df
        return files_df(self, table, snapshot_version)

    def information_schema(self, view: str) -> DataFrame:
        from .operators.info_schema import relation
        return relation(self, f"information_schema.{view}")

    def register_sql_functions(self) -> None:
        """Register the st_* geometry functions with the Spark session
        (``sql()`` does this on first use). The ducklake_* table
        functions need no registration: ``sql()`` resolves them."""
        from .functions.geo import register_geo_functions
        register_geo_functions(self.spark)
        self._st_registered = True

    def table_changes(self, name: str, start, end) -> DataFrame:
        """Full CDC feed in (start, end]. Bounds are snapshot ids, or
        datetime/date/ISO-string points in time resolved against the
        snapshot log (catalog clock — UTC for SQLite/DuckDB catalogs)."""
        from .operators.cdc import resolve_cdc_bound, table_changes
        return table_changes(self, name,
                             resolve_cdc_bound(self, start, lower=True),
                             resolve_cdc_bound(self, end, lower=False))

    def table_deletions(self, name: str, start, end) -> DataFrame:
        from .operators.cdc import resolve_cdc_bound, table_deletions
        return table_deletions(self, name,
                               resolve_cdc_bound(self, start, lower=True),
                               resolve_cdc_bound(self, end, lower=False))

    def table_insertions(self, name: str, start, end) -> DataFrame:
        """Insert half of the CDC feed (rows added — including UPDATE
        postimages as plain rows): data columns + rowid + snapshot_id;
        upstream's ducklake_table_insertions surface."""
        from .operators.cdc import resolve_cdc_bound, table_insertions
        return table_insertions(self, name,
                                resolve_cdc_bound(self, start, lower=True),
                                resolve_cdc_bound(self, end, lower=False))

    def drop_table(self, name: str) -> None:
        """DROP TABLE — ends the table/columns/files in one snapshot
        (time travel before the drop still sees everything; data files
        stay on disk for those reads, the cleanup-orphans contract).
        Clustering-replica specs are CLEARED here: replica bucket files
        are catalog-invisible duplicates no time-travel read can ever
        reference, so a dropped table's replicas would otherwise be
        spared by the orphan sweep forever — an unbounded leak."""
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        writer = _catalog_writer(self)
        try:
            writer.drop_table(handle.meta.table_id)
            writer.set_option("clustering_replicas", None,
                              scope="table", scope_id=handle.meta.table_id)
        finally:
            writer.close()
        self.refresh()

    def create_view(self, name: str, sql_text: str,
                    replace: bool = False,
                    if_not_exists: bool = False) -> None:
        """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] — the body (raw SQL
        with dotted table names) is persisted in the catalog's
        ``ducklake_view`` entity (DuckLake spec; the reference engine has
        no view support — this follows its vendored sql/view/ corpus
        shape). The body is planned once up front so an invalid
        definition fails at create time. Tables and views share one
        namespace (transaction/create_conflict corpus)."""
        from .table_writer import _catalog_writer
        schema_name, view_name = self._split(name)
        try:
            schema = self.catalog.schema(schema_name)
        except SchemaNotFound:
            if schema_name != DEFAULT_SCHEMA:
                raise
            # CREATE VIEW as the catalog's very first DDL: materialize
            # the default schema exactly as the table write path would
            # (DuckDB creates main on ATTACH)
            writer = _catalog_writer(self)
            try:
                writer.create_schema(DEFAULT_SCHEMA)
            finally:
                writer.close()
            self.refresh()
            schema = self.catalog.schema(schema_name)
        if isinstance(self._relation(name)[1], TableMeta):
            raise InvalidConfig(
                f"cannot create view {name!r}: a table with that name "
                "already exists")
        if if_not_exists and self._view_exists(name):
            return
        # validate: the body must plan against the current catalog
        self._plan_view_body(sql_text)
        writer = _catalog_writer(self)
        try:
            writer.create_view(schema.meta.schema_id, view_name, sql_text,
                               replace=replace)
        finally:
            writer.close()
        self.refresh()

    def _view_exists(self, name: str) -> bool:
        meta = self._relation(name)[1]
        return meta is not None and not isinstance(meta, TableMeta)

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        """DROP VIEW [IF EXISTS] — MVCC-ends the view row; time travel
        before the drop still resolves it."""
        from .table_writer import _catalog_writer
        schema_name, view_name = self._split(name)
        try:
            schema = self.catalog.schema(schema_name)
            writer = _catalog_writer(self)
            try:
                writer.drop_view(schema.meta.schema_id, view_name)
            finally:
                writer.close()
        except (SchemaNotFound, InvalidConfig):
            if not if_exists:
                raise
            return
        self.refresh()

    def rename_view(self, name: str, new_name: str) -> None:
        """ALTER VIEW ... RENAME TO (sql/alter/rename_entity.test):
        MVCC rename keeping the view_id and body."""
        from .table_writer import _catalog_writer
        schema_name, view_name = self._split(name)
        schema = self.catalog.schema(schema_name)
        writer = _catalog_writer(self)
        try:
            writer.rename_view(schema.meta.schema_id, view_name,
                               new_name.rsplit(".", 1)[-1])
        finally:
            writer.close()
        self.refresh()

    # -- metadata-only ALTER TABLE (sql/alter/ corpus; zero file I/O) ----

    def _alter_columns(self, name: str, cols,
                       nested_hints: Optional[dict] = None,
                       then=None) -> None:
        """Version the table's columns in one snapshot. ``then(writer,
        table_id)`` writes the rest of the change in the same catalog
        transaction: a visible snapshot never changes afterwards."""
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        writer = _catalog_writer(self)
        try:
            with writer._txn():
                writer.version_columns(handle.meta.table_id, cols,
                                       nested_hints=nested_hints)
                if then is not None:
                    then(writer, handle.meta.table_id)
        finally:
            writer.close()
        self.refresh()

    def rename_table(self, name: str, new_name: str) -> None:
        """ALTER TABLE name RENAME TO new_name (corpus:
        sql/alter/rename_table*): MVCC metadata-only rename — same
        table_id keeps files/columns/rowids; time travel before the
        rename resolves the old name; the storage path is unchanged."""
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        writer = _catalog_writer(self)
        try:
            writer.rename_table(handle.meta.table_id, new_name)
        finally:
            writer.close()
        self.refresh()

    def rename_nested_field(self, name: str, col_path: str,
                            new_name: str) -> None:
        """RENAME COLUMN col.path.field TO new — beyond-reference
        completion of the struct-evolution surface: the nested field
        keeps its FIELD ID (an explicit path→id hint carries it through
        the path change), so every existing file resolves under the new
        field name with zero rewrites — the nested analog of top-level
        renames, something name-resolved systems cannot do safely."""
        from .errors import UnsupportedType
        from .metadata.writer import ColumnDef
        from .types import edit_nested_type
        self._reject_encrypted_nested_evolution()
        parts = col_path.split(".")
        root, path = parts[0], tuple(p.lower() for p in parts[1:])
        handle = self.table_handle(name)
        by_name = {c.column_name.lower(): c for c in handle.columns}
        if root.lower() not in by_name:
            raise InvalidConfig(
                f"rename column: no column {root!r} in {name}")
        target = by_name[root.lower()]
        try:
            new_root_type = edit_nested_type(
                target.column_type, path, "rename", new_name)
        except UnsupportedType as e:
            raise InvalidConfig(str(e)) from e
        # carry every id under the renamed path to its new path
        new_prefix = path[:-1] + (new_name.lower(),)
        hints: dict = {}
        for p, fid in (target.nested_ids or ()):
            if p[:len(path)] == path:
                hints[new_prefix + p[len(path):]] = fid
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name,
                                    new_root_type
                                    if c.column_id == target.column_id
                                    else c.column_type,
                                    c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns],
            nested_hints={target.column_id: hints})

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE name RENAME COLUMN old TO new — metadata-only: the
        column keeps its column_id (== parquet field id), so every
        existing file resolves under the new name with zero rewrites (the
        same mechanism as reading DuckDB-renamed catalogs, A3). Dotted
        names rename a NESTED struct field (id-preserving)."""
        from .metadata.writer import ColumnDef
        if "." in old:
            self.rename_nested_field(name, old, new)
            return
        handle = self.table_handle(name)
        names = [c.column_name for c in handle.columns]
        if old not in names:
            raise InvalidConfig(f"rename_column: no column {old!r} in {name}")
        if new in names:
            raise InvalidConfig(f"rename_column: {new!r} already exists")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(new if c.column_name == old
                                    else c.column_name,
                                    c.column_type, c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns],
            # inline tables store columns by name — rename the physical
            # column so live inlined rows keep resolving
            then=(lambda w, tid: w.rename_inlined_column(tid, old, new))
            if handle.inlined_tables else None)

    def promote_column_type(self, name: str, col_name: str,
                            new_type: str) -> None:
        """ALTER TABLE name ALTER col SET DATA TYPE new_type (corpus:
        sql/alter/promote_type.test): metadata-only along the DuckLake
        promotion rules (int widening, float32→float64, int→float64,
        decimal widening, timestamp→timestamptz) — existing files keep
        their narrower physical type; Spark's parquet reader widens at
        scan time (verified: int32 files read under a bigint/decimal
        schema natively). Lossy changes are rejected."""
        from .errors import UnsupportedType
        from .metadata.writer import ColumnDef
        from .types import (_type_kind, check_nested_evolution,
                            is_promotable, normalize_ducklake_type)
        handle = self.table_handle(name)
        cols = {c.column_name: c for c in handle.columns}
        if col_name not in cols:
            raise InvalidConfig(
                f"promote_column_type: no column {col_name!r} in {name}")
        canon = normalize_ducklake_type(new_type)
        old = cols[col_name].column_type
        if _type_kind(normalize_ducklake_type(old)) != "leaf" \
                or _type_kind(canon) != "leaf":
            # struct field evolution (sql/alter/struct_evolution*.test):
            # nested SET DATA TYPE may add/drop struct fields and safely
            # promote kept ones; child field ids stay stable by path, so
            # old files keep resolving (and a dropped-then-readded field
            # gets a fresh id — old values do NOT resurrect)
            self._reject_encrypted_nested_evolution()
            try:
                check_nested_evolution(old, canon)
            except UnsupportedType as e:
                raise InvalidConfig(str(e)) from e
        elif not is_promotable(old, canon):
            raise InvalidConfig(
                f"Type promotion from {old} to {canon} is not allowed "
                "(only safe widenings)")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name,
                                    canon if c.column_name == col_name
                                    else c.column_type,
                                    c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns])

    def _reject_encrypted_nested_evolution(self) -> None:
        """Encrypted tables decode through the PME reader BY NAME (no
        nested-field-id resolution there), so a dropped-then-readded
        field would resurrect old values — refuse nested evolution on
        encrypted catalogs rather than risk it (documented gap; the
        KMS/footer-key reader has no per-field id hook)."""
        if (self.provider.get_option("encrypted") or "").lower() in \
                ("true", "1"):
            raise InvalidConfig(
                "struct field evolution over ENCRYPTED tables is not "
                "supported (the PME decode path resolves nested fields "
                "by name, not field id)")

    def _edit_nested_column(self, name: str, col_path: str, action: str,
                            new_type: Optional[str] = None,
                            lenient: bool = False,
                            default: Optional[str] = None) -> None:
        """Targeted nested field ALTER — ``ADD/DROP COLUMN col.path.field``
        (corpus: sql/alter/struct_evolution_*_alter.test). Rewrites the
        root column's type string via edit_nested_type and versions the
        columns; kept nested field ids stay stable by path (writer child-
        row reuse), added fields get fresh ids. ``lenient``: swallow the
        already-exists / does-not-exist error (IF [NOT] EXISTS).
        ``default``: the added direct field's initial default."""
        from .errors import UnsupportedType
        from .metadata.writer import ColumnDef
        from .types import edit_nested_type
        self._reject_encrypted_nested_evolution()
        parts = col_path.split(".")
        root, path = parts[0], tuple(parts[1:])
        handle = self.table_handle(name)
        by_name = {c.column_name.lower(): c for c in handle.columns}
        if root.lower() not in by_name:
            if lenient:
                return
            raise InvalidConfig(
                f"{action} column: no column {root!r} in {name}")
        target = by_name[root.lower()]
        try:
            new_root_type = edit_nested_type(
                target.column_type, path, action, new_type)
        except UnsupportedType as e:
            if lenient and ("already exists" in str(e)
                            or "does not exist" in str(e)):
                return
            raise InvalidConfig(str(e)) from e
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name,
                                    new_root_type
                                    if c.column_id == target.column_id
                                    else c.column_type,
                                    c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns],
            then=None if default is None
            else lambda w, tid: w.set_nested_field_default(
                tid, root, path[0], default))

    def add_column(self, name: str, col_name: str, col_type: str,
                   default: Optional[str] = None,
                   if_not_exists: bool = False) -> None:
        """ALTER TABLE name ADD COLUMN — metadata-only; existing files
        lack the new field id and read back NULL, or ``default`` (a SQL
        literal/expression string) when given: it is recorded as the
        column's initial_default (fills rows predating the column) AND
        default_value (applies to INSERTs that omit it) — DuckDB's ALTER
        ADD COLUMN ... DEFAULT semantics (corpus: sql/default/). The
        column is always nullable. ``col_type`` is a DuckLake type."""
        from .metadata.writer import ColumnDef
        from .types import ducklake_to_spark_type
        ducklake_to_spark_type(col_type)        # validate early
        if "." in col_name:
            if default is not None:
                # sql/default/struct_field_default.test: supported for
                # direct fields of a TOP-LEVEL struct column
                parts = col_name.split(".")
                if len(parts) != 2:
                    raise InvalidConfig(
                        "DEFAULT on nested adds is supported only for "
                        "direct fields of a top-level struct column")
                self._edit_nested_column(name, col_name, "add", col_type,
                                         lenient=if_not_exists,
                                         default=default)
                return
            self._edit_nested_column(name, col_name, "add", col_type,
                                     lenient=if_not_exists)
            return
        handle = self.table_handle(name)
        if col_name in [c.column_name for c in handle.columns]:
            if if_not_exists:
                return
            raise InvalidConfig(f"add_column: {col_name!r} already exists")
        cols = [(c.column_id, ColumnDef(c.column_name, c.column_type,
                                        c.nulls_allowed,
                                        c.initial_default, c.default_value))
                for c in handle.columns]
        cols.append((None, ColumnDef(col_name, col_type, True,
                                     default, default)))
        self._alter_columns(name, cols)

    def set_column_default(self, name: str, col_name: str,
                           default: Optional[str]) -> None:
        """ALTER TABLE name ALTER col SET DEFAULT expr / DROP DEFAULT —
        changes default_value (applies to FUTURE inserts that omit the
        column); initial_default, which fills pre-column rows, is
        untouched (DuckLake's two-default model, sql/default/ corpus)."""
        from .metadata.writer import ColumnDef
        handle = self.table_handle(name)
        if col_name not in [c.column_name for c in handle.columns]:
            raise InvalidConfig(
                f"set_column_default: no column {col_name!r}")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(
                c.column_name, c.column_type, c.nulls_allowed,
                c.initial_default,
                default if c.column_name == col_name else c.default_value))
            for c in handle.columns])

    def drop_column(self, name: str, col_name: str,
                    if_exists: bool = False) -> None:
        """ALTER TABLE name DROP COLUMN — metadata-only; the data stays
        in the files but no longer projects (and time travel before the
        drop still sees it). Dotted names drop a nested struct field
        (sql/alter/struct_evolution_*_alter.test)."""
        from .metadata.writer import ColumnDef
        if "." in col_name:
            self._edit_nested_column(name, col_name, "drop",
                                     lenient=if_exists)
            return
        handle = self.table_handle(name)
        names = [c.column_name for c in handle.columns]
        if col_name not in names:
            if if_exists:
                return
            raise InvalidConfig(f"drop_column: no column {col_name!r}")
        if len(names) == 1:
            raise InvalidConfig("drop_column: cannot drop the last column")
        # sql/partitioning/drop_partition_column.test: a column in the
        # LIVE partition spec cannot drop — RESET PARTITIONED BY first
        target_id = next(c.column_id for c in handle.columns
                         if c.column_name == col_name)
        spec = self.provider.get_partition_columns(handle.meta.table_id,
                                                   handle.snapshot_id)
        if any(cid == target_id for _idx, cid, _tf in spec):
            raise InvalidConfig(
                f"drop_column: cannot drop {col_name!r} — the table is "
                f"partitioned by this column (RESET PARTITIONED BY first)")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name, c.column_type,
                                    c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns if c.column_name != col_name])

    def set_option(self, key: str, value,
                   table_name: Optional[str] = None,
                   schema: Optional[str] = None) -> None:
        """Set/clear (value=None) a catalog option in ducklake_metadata —
        e.g. ``set_option("data_inlining_row_limit", 10)`` turns on
        write-side data inlining (DuckDB's DATA_INLINING_ROW_LIMIT).
        ``table_name``/``schema`` record a per-table/per-schema override
        (DuckLake scoped settings; corpus: sql/settings/)."""
        from .table_writer import _catalog_writer
        if key in ("delete_older_than", "expire_older_than") \
                and value is not None:
            self._parse_interval(str(value))   # validate (ref error text)
        if key == "rewrite_delete_threshold" and value is not None:
            try:
                ok = 0.0 <= float(value) <= 1.0
            except (TypeError, ValueError):
                ok = False
            if not ok:
                raise InvalidConfig(
                    "The rewrite_delete_threshold must be between 0 and 1")
        scope = scope_id = None
        if table_name is not None:
            qualified = table_name if "." in table_name else (
                f"{schema}.{table_name}" if schema
                else f"{DEFAULT_SCHEMA}.{table_name}")
            scope, scope_id = "table", self.table_handle(
                qualified).meta.table_id
        elif schema is not None:
            snap = self.provider.get_current_snapshot()
            meta = self.provider.get_schema_by_name(schema, snap)
            if meta is None:
                raise SchemaNotFound(schema)
            scope, scope_id = "schema", meta.schema_id
        writer = _catalog_writer(self)
        try:
            writer.set_option(key, None if value is None else str(value),
                              scope=scope, scope_id=scope_id)
        finally:
            writer.close()
        self.refresh()

    def expire_snapshots(self, before: Optional[int] = None,
                         versions: Optional[list[int]] = None,
                         dry_run: bool = False,
                         older_than: Optional[str] = None) -> int:
        """Drop time-travel points older than ``before`` (default: all
        but the latest), or exactly ``versions`` (the corpus's
        ``versions => [..]`` form; the latest is always kept) —
        ducklake_expire_snapshots parity (corpus: cleanup/ +
        sql/compaction/expire_snapshots.test). ``dry_run`` counts
        without deleting. Returns snapshots expired. Rejected inside a
        transaction."""
        from .table_writer import _catalog_writer
        if self._txn_base is not None:
            raise InvalidConfig(
                "expire_snapshots inside a transaction is not supported")
        if older_than is None and versions is None and before is None:
            # the expire_older_than catalog option supplies the default
            # retention window (sql/compaction/
            # expire_snapshot_global_option.test)
            opt = self.provider.get_option("expire_older_than")
            delta = self._parse_interval(str(opt)) if opt else None
            if delta is not None:
                import datetime as _dt
                older_than = (_dt.datetime.utcnow() - delta).isoformat()
        if older_than is not None:
            # older_than => NOW() / TIMESTAMP '...' (sql/compaction/
            # expire_snapshots.test): resolve to the matching snapshot
            # ids by snapshot_time; the latest snapshot is always kept
            import datetime as _dt
            # catalog snapshot_time is CURRENT_TIMESTAMP (UTC, naive)
            cut = (_dt.datetime.utcnow() if older_than == "now"
                   else _dt.datetime.fromisoformat(older_than))
            latest = self.provider.get_current_snapshot()
            sel = []
            for s in self.provider.list_snapshots():
                if s.snapshot_id == latest or s.snapshot_time is None:
                    continue
                try:
                    ts = _dt.datetime.fromisoformat(str(s.snapshot_time))
                except ValueError:
                    continue
                if ts < cut:
                    sel.append(s.snapshot_id)
            versions = sorted(set(versions or []) | set(sel)) if versions \
                else sel
            if not versions:
                return 0
        writer = _catalog_writer(self)
        try:
            if versions is not None:
                n = writer.expire_snapshot_ids(versions, dry_run=dry_run)
            elif dry_run:
                cur = self.provider.get_current_snapshot()
                cutoff = cur if before is None else min(before, cur)
                n = sum(1 for s in self.provider.list_snapshots()
                        if s.snapshot_id < cutoff)
            else:
                n = writer.expire_snapshots(before)
        finally:
            writer.close()
        if not dry_run:
            self.refresh()
        return n

    def cleanup_old_files(self, dry_run: bool = False,
                          cleanup_all: bool = False) -> list[str]:
        """Physically delete files no time-travel point can reach (ended
        before the oldest remaining snapshot) and drop their catalog
        rows — ducklake_cleanup_old_files parity. The
        ``delete_older_than`` catalog option is the default retention
        guard (young expired files are kept for in-flight readers;
        sql/compaction/cleanup_old_files_global_option.test);
        ``cleanup_all`` overrides it. Returns the deleted (or, with
        dry_run, deletable) resolved paths."""
        from .operators.dml import _pyarrow_dest
        from .table_writer import _catalog_writer
        resolver = self.catalog.resolver
        cutoff = None
        if not cleanup_all:
            delta = self._parse_interval(
                self.provider.get_option("delete_older_than"))
            if delta is not None:
                import time
                cutoff = time.time() - delta.total_seconds()
        writer = _catalog_writer(self)
        try:
            doomed = writer.list_expired_files()
            paths, ids = [], []
            for kind, fid, f_path, f_rel, t_path, t_rel, s_path, s_rel \
                    in doomed:
                schema_path = resolver.schema_path(s_path, s_rel)
                table_path = resolver.table_path(schema_path, t_path, t_rel)
                p = resolver.file_path(table_path, f_path, f_rel)
                if cutoff is not None:
                    local = p[len("file://"):] \
                        if p.startswith("file://") else p
                    if "://" not in local and os.path.exists(local) \
                            and os.path.getmtime(local) > cutoff:
                        continue    # young: keep file AND its rows
                paths.append(p)
                ids.append((kind, fid))
            if dry_run:
                return paths
            for p in paths:
                local = p[len("file://"):] if p.startswith("file://") else p
                if "://" not in local:
                    if os.path.exists(local):
                        os.remove(local)
                else:
                    fs, base = _pyarrow_dest(p)
                    fs.delete_file(base)
            # per-file row drops: retained young files keep their rows so
            # a later pass still finds them, but rows of files deleted in
            # THIS pass go now (no double-reporting, no lingering stats)
            writer.drop_file_rows(ids)
            writer.drop_expired_inlined_rows()
        finally:
            writer.close()
        self.refresh()
        return paths

    @staticmethod
    def _parse_interval(s: str):
        """'N unit' interval strings (millisecond…week) → timedelta;
        '' / None clears. Anything else is the reference's error."""
        import datetime
        if s is None or s == "":
            return None
        m = re.fullmatch(
            r"\s*(\d+)\s*(millisecond|second|minute|hour|day|week)s?\s*",
            str(s), re.I)
        if not m:
            raise InvalidConfig(
                f"{s} is not a valid interval value.")
        n, unit = int(m.group(1)), m.group(2).lower()
        return datetime.timedelta(**{unit + "s": n})

    def delete_orphaned_files(self, dry_run: bool = False,
                              cleanup_all: bool = False) -> list[str]:
        """ducklake_delete_orphaned_files parity (corpus:
        sql/remove_orphans/): delete parquet files sitting in the lake's
        data directory that the catalog has NEVER registered (any
        snapshot) — typically crash-orphaned staging output or stray
        copies. The ``delete_older_than`` catalog option guards in-flight
        writes: younger orphans are kept unless ``cleanup_all``. Local /
        file:// paths only (object stores raise a capability error).
        Returns the deleted (or, with dry_run, deletable) paths."""
        if self.read_only:
            # disk mutation — honors READ_ONLY like every catalog write
            raise InvalidConfig(
                "Cannot write to the catalog: the session is read-only")
        data_path = self.provider.get_data_path()
        local = data_path[len("file://"):] \
            if data_path.startswith("file://") else data_path
        # known set by FULL resolved path — identical basenames in
        # different directories must not shadow each other
        # (sql/remove_orphans/mixed_paths.test); rows that fail the
        # era-resolution fall back to basename matching (conservative:
        # never deletes a possibly-registered file)
        from .paths import PathResolver

        registered: set = set()
        registered_names: set = set()
        if not all(self.provider.has(t, "path", "path_is_relative")
                   for t in ("ducklake_table", "ducklake_schema")):
            # catalogs without path columns on table/schema: conservative
            # basename matching, the pre-full-path behavior
            registered_names = {
                str(p).rsplit("/", 1)[-1]
                for p in self.provider.list_registered_file_names()}
        else:
            resolver = PathResolver(data_path)
            for row in self.provider.list_registered_file_paths():
                resolved = _resolve_catalog_file_row(resolver, row)
                if resolved is not None:
                    registered.add(resolved)
                else:
                    registered_names.add(str(row[0]).rsplit("/", 1)[-1])
        # clustering-replica bucket files are engine-owned but catalog-
        # INVISIBLE (recorded only in the clustering_replicas option, by
        # design — operators/layout.cluster_by replica=True): spare every
        # file named in a LIVE spec. Files of superseded replicas are no
        # longer named anywhere and fall through — deletable orphans,
        # which is exactly how refreshed replicas get garbage-collected.
        import json as _json
        for raw in self.provider.list_option_values("clustering_replicas"):
            try:
                specs = _json.loads(raw)
            except (ValueError, TypeError):
                continue
            if not isinstance(specs, dict):
                continue
            for spec in specs.values():
                if isinstance(spec, dict):
                    for n in spec.get("files") or []:
                        registered_names.add(str(n).rsplit("/", 1)[-1])
        if "://" in local:
            raise InvalidConfig(
                "delete_orphaned_files supports local/file:// data paths "
                f"only (got {data_path})")
        cutoff = None
        if not cleanup_all:
            delta = self._parse_interval(
                self.provider.get_option("delete_older_than"))
            if delta is not None:
                import time
                cutoff = time.time() - delta.total_seconds()
        orphans = []
        for root, _dirs, files in os.walk(local):
            for f in files:
                if not f.endswith(".parquet") or f in registered_names:
                    continue
                full = os.path.join(root, f)
                if os.path.normpath(full) in registered:
                    continue
                if cutoff is not None and os.path.getmtime(full) > cutoff:
                    continue
                orphans.append(full)
        if not dry_run:
            for p in orphans:
                os.remove(p)
        return sorted(orphans)

    @staticmethod
    def _parse_size(text: str) -> int:
        """'5.4MB' / '512KB' / '1GB' / plain bytes → bytes (the
        target_file_size option format, sql/compaction/
        compaction_size_limit.test)."""
        m = re.fullmatch(r"\s*([\d.]+)\s*([KMGT]?I?B?)\s*", text, re.I)
        if not m:
            raise InvalidConfig(f"bad size: {text!r}")
        mult = {"": 1, "B": 1, "KB": 10**3, "MB": 10**6, "GB": 10**9,
                "TB": 10**12, "KIB": 2**10, "MIB": 2**20, "GIB": 2**30,
                "TIB": 2**40}[m.group(2).upper()]
        return int(float(m.group(1)) * mult)

    def merge_adjacent_files(self, table_name: Optional[str] = None,
                             max_compacted_files: Optional[int] = None
                             ) -> int:
        """ducklake_merge_adjacent_files parity: pack each table's
        rowid-adjacent live files into groups of at most
        ``target_file_size`` bytes (catalog option, e.g. '512MB';
        compaction_size_limit.test) and rewrite each multi-file or
        delete-carrying group into contiguous-rowid files. Groups that
        are a single clean file — including every file at or above the
        target — keep their exact registration, so the rewrite cost
        tracks the FRAGMENTED byte count, never the table size. Without
        the option, each table packs into one group (single output
        file). Returns the number of tables rewritten.

        ``table_name`` scopes the pass to one table, leaving every other
        table's registration untouched; ``max_compacted_files`` caps how
        many table rewrites one call performs (corpus:
        merge_adjacent_options.test, merge_adjacent_max_files.test)."""
        from .table_writer import rewrite_file_groups
        if max_compacted_files is not None and max_compacted_files < 1:
            raise InvalidConfig(
                "The max_compacted_files option must be a non-null "
                "positive integer")
        target_raw = self.provider.get_option("target_file_size")
        target = self._parse_size(target_raw) if target_raw else None
        n = 0
        snap = self.provider.get_current_snapshot()
        for schema_name, t in self.provider.list_all_tables(snap):
            name = f"{schema_name}.{t.table_name}"
            if table_name is not None and \
                    t.table_name != table_name.rsplit(".", 1)[-1]:
                continue
            if table_name is None:
                # scoped auto_compact gates the catalog-wide pass (table
                # overrides schema overrides global; default true —
                # sql/compaction/merge_adjacent_global_option.test)
                smeta = self.provider.get_schema_by_name(schema_name, snap)
                ac = self.provider.get_scoped_option(
                    "auto_compact",
                    smeta.schema_id if smeta else None, t.table_id)
                if ac is not None and str(ac).strip().lower() in (
                        "false", "0"):
                    continue
            if max_compacted_files is not None and \
                    n >= max_compacted_files:
                break
            handle = self.table_handle(name)
            if not (len(handle.files) > 1
                    or any(f.delete_uri for f in handle.files)):
                continue
            from .types import is_interval_type
            iv_table = any(is_interval_type(c.column_type)
                           for c in handle.columns)
            if iv_table and self.provider.get_partition_columns(
                    handle.meta.table_id, handle.snapshot_id):
                # partitioned interval rewrite is a documented refusal
                # (the interval staging carries no partition machinery):
                # loud when named explicitly, skipped by the sweep
                if table_name is not None:
                    raise InvalidConfig(
                        "merge_adjacent_files over a partitioned "
                        "INTERVAL table is not supported")
                continue
            if any(f.encryption_key is not None for f in handle.files):
                if iv_table:
                    # encrypted interval rewrite is a documented refusal
                    # (the PME writer can't emit INTERVAL): explicit
                    # single-table call stays loud, the catalog-wide
                    # sweep skips instead of aborting mid-pass
                    if table_name is not None:
                        raise InvalidConfig(
                            "merge_adjacent_files over an encrypted "
                            "INTERVAL table is not supported")
                    continue
                # encrypted rewrite renumbers (PME staging path)
                self.compact(name, preserve_rowids=False)
                n += 1
                continue
            if any(mf.row_id_start is None for mf in handle._raw_files) \
                    or (handle.inlined_tables and handle.inlined_rows()):
                # no preservable rowids (foreign fixtures) → plain
                # rewrite; live inlined rows → compact raises, as before
                self.compact(name)
                n += 1
                continue
            # never pack across partitions; size target caps each group;
            # single-clean-file groups stay registered untouched. Within
            # a partition bucket, files merge even across rowid GAPS
            # (interleaved per-value inserts — upstream
            # compaction_partitioned_non_adjacent contract): contiguous
            # groups take the classic run path (outputs register with
            # row_id_start), gapped groups write one rowid-in-file
            # output each, preserving per-row snapshot_ids too.
            from .table_writer import (group_is_contiguous,
                                       merge_groups_rowid_column,
                                       partition_chains)
            todo = partition_chains(self, handle, target, adjacency=False)
            if not todo:
                continue
            contiguous = [g for g in todo if group_is_contiguous(g)]
            gapped = [g for g in todo if not group_is_contiguous(g)]
            if iv_table:
                # interval rewrites stage through the duckdb writer —
                # the run path's Spark writer can't emit INTERVAL, so
                # contiguous groups also take the rowid-column route
                gapped, contiguous = contiguous + gapped, []
            if contiguous:
                rewrite_file_groups(self, name, contiguous,
                                    op="merge_adjacent_files")
            if gapped:
                merge_groups_rowid_column(self, name, gapped,
                                          op="merge_adjacent_files")
            n += 1
        return n

    def checkpoint(self) -> int:
        """CHECKPOINT parity (corpus: sql/checkpoint/): flush every
        table's inlined rows out to parquet. Returns rows flushed."""
        n = 0
        snap = self.provider.get_current_snapshot()
        for schema_name, t in self.provider.list_all_tables(snap):
            name = f"{schema_name}.{t.table_name}"
            if self.table_handle(name).inlined_rows():
                n += self.flush_inlined_data(name)
        return n

    def comment_on_table(self, name: str,
                         comment: Optional[str]) -> None:
        """COMMENT ON TABLE — an MVCC 'comment' tag in ducklake_tag
        (corpus: sql/comments/); None clears it. Rollback-aware like all
        snapshot-versioned state."""
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        writer = _catalog_writer(self)
        try:
            writer.set_tag(handle.meta.table_id, "comment", comment)
        finally:
            writer.close()
        self.refresh()

    def comment_on_column(self, name: str, col_name: str,
                          comment: Optional[str]) -> None:
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        target = {c.column_name: c for c in handle.columns}.get(col_name)
        if target is None:
            raise InvalidConfig(f"comment_on_column: no column {col_name!r}")
        writer = _catalog_writer(self)
        try:
            writer.set_tag(handle.meta.table_id, "comment", comment,
                           column_id=target.column_id,
                           table_id_for_column=handle.meta.table_id)
        finally:
            writer.close()
        self.refresh()

    def table_comment(self, name: str) -> Optional[str]:
        handle = self.table_handle(name)
        return self.provider.get_tag(handle.meta.table_id, "comment",
                                     self.catalog.snapshot_id)

    def column_comment(self, name: str, col_name: str) -> Optional[str]:
        handle = self.table_handle(name)
        target = {c.column_name: c for c in handle.columns}.get(col_name)
        if target is None:
            raise InvalidConfig(f"column_comment: no column {col_name!r}")
        return self.provider.get_column_tag(
            handle.meta.table_id, target.column_id, "comment",
            self.catalog.snapshot_id)

    _PART_TRANSFORM_RE = re.compile(
        r"^(year|month|day|hour)\s*\(\s*(\w+)\s*\)$", re.I)

    def set_partitioned_by(self, name: str, columns: list[str]) -> None:
        """ALTER TABLE name SET PARTITIONED BY (columns) — records the
        DuckLake partition spec (ducklake_partition_info/_column); future
        inserts split into hive-style per-value files with catalog
        partition values, and prune_files drops non-matching files
        exactly. Entries may be transform expressions — year(ts),
        month(ts), day(ts), hour(ts) (corpus: sql/partitioning/
        year_month_day.test) — over date/timestamp columns. [] resets
        the spec. Existing files are untouched (DuckDB behavior) and
        stay conservatively un-prunable."""
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        by_name = {c.column_name.lower(): c for c in handle.columns}
        specs = []
        for entry in columns:
            m = self._PART_TRANSFORM_RE.match(entry.strip())
            cname = (m.group(2) if m else entry.strip()).lower()
            if cname not in by_name:
                raise InvalidConfig(
                    f"set_partitioned_by: unknown columns [{cname!r}]")
            col = by_name[cname]
            if m:
                t = col.column_type.lower()
                if not any(k in t for k in ("date", "timestamp")):
                    raise InvalidConfig(
                        f"partition transform {m.group(1).lower()}() needs "
                        f"a date/timestamp column, got {col.column_type}")
                specs.append((col.column_id, m.group(1).lower()))
            else:
                specs.append((col.column_id, "identity"))
        writer = _catalog_writer(self)
        try:
            writer.set_partitioned_by(handle.meta.table_id, specs)
        finally:
            writer.close()
        self.refresh()

    def flush_inlined_data(self, name: "str | None" = None) -> int:
        """Move a table's LIVE inlined rows (DuckLake data inlining —
        rows DuckDB stored in the catalog DB) into a registered parquet
        data file, ending the inlined rows in the same snapshot. Older
        snapshots still time-travel to the inlined form. Returns rows
        flushed. A flush is pure storage migration (upstream corpus:
        sql/data_inlining/data_inlining_flush.test): rowids AND per-row
        snapshot_ids survive (written as the reserved in-file columns,
        row_id_start NULL) and the flush snapshot is CDC-silent —
        table_changes over the flush window is empty, like compaction.

        ``name=None`` flushes EVERY table with live inlined rows —
        upstream's whole-catalog form, where the CALL's argument is the
        attached catalog name (sql/data_inlining/
        inlining_issue_on_empty_inline.test)."""
        from .table_writer import (_catalog_writer, register_files,
                                   stage_files, target_of)
        if name is None:
            total = 0
            snap = self.provider.get_current_snapshot()
            for schema_name, meta in self.provider.list_all_tables(snap):
                total += self.flush_inlined_data(
                    f"{schema_name}.{meta.table_name}")
            return total
        handle = self.table_handle(name)
        df = handle._inlined_df(with_rowid=True, with_snapshot=True)
        if df is None:
            return 0
        target = target_of(self, handle)
        settings = self.provider.settings()
        staged = stage_files(self, target, df, include_rowid=True,
                             include_snapshot=True, settings=settings)
        writer = _catalog_writer(self, settings)
        try:
            with writer._txn():
                sid = writer.create_snapshot(
                    [f"flushed_inlined_data:{handle.meta.table_id}"])
                n = register_files(writer, sid, target, staged)
                for it in handle.inlined_tables:
                    writer.end_inlined_rows(it, sid)
        finally:
            writer.close()
        self.refresh(settings)
        return n

    # -- transactions (sql/transaction/ corpus; snapshot-anchored) --------

    def begin_transaction(self) -> int:
        """BEGIN: anchor the current snapshot. Statements keep committing
        their own snapshots (single-writer visibility — a SELECT inside
        the transaction sees them); ROLLBACK rewinds the catalog to the
        anchor, COMMIT just drops it. Nested BEGIN is rejected, as in
        DuckDB."""
        if self._txn_base is not None:
            raise InvalidConfig("transaction already in progress")
        self._txn_base = self.provider.get_current_snapshot()
        # this transaction's OWN snapshot ids (filled by the writers'
        # on_snapshot hook) — ROLLBACK rewinds exactly these, so a
        # concurrent session's commits after the anchor survive
        self._txn_snapshots: set = set()
        return self._txn_base

    def _note_txn_snapshot(self, sid: int) -> None:
        if self._txn_base is not None:
            snaps = getattr(self, "_txn_snapshots", None)
            if snaps is not None:
                snaps.add(sid)

    def set_commit_message(self, author, commit_message) -> None:
        """Audit info for the current transaction's commit (DuckDB's
        ducklake.set_commit_message; corpus: sql/audit/): stamped onto
        the transaction's final snapshot at COMMIT."""
        if self._txn_base is None:
            raise InvalidConfig(
                "set_commit_message requires an active transaction")
        self._pending_audit = (author, commit_message)

    def commit(self) -> None:
        if self._txn_base is None:
            raise InvalidConfig("no transaction in progress")
        pending = getattr(self, "_pending_audit", None)
        if pending is not None:
            snap = self.provider.get_current_snapshot()
            # only stamp a snapshot THIS transaction created — an empty
            # transaction must not clobber a prior commit's audit record
            if snap > self._txn_base:
                from .table_writer import _catalog_writer
                writer = _catalog_writer(self)
                try:
                    writer.set_snapshot_audit(snap, *pending)
                finally:
                    writer.close()
            self._pending_audit = None
        self._txn_base = None

    def rollback(self) -> None:
        """ROLLBACK: rewind every snapshot made since BEGIN — MVCC rows
        born after the anchor are deleted, rows ended after it re-open.
        Files the rewind unregistered are removed from disk (the
        upstream conflict-cleanup contract, sql/transaction/
        transaction_conflict_cleanup.test); a failed removal degrades to
        an orphan delete_orphaned_files can sweep — never corruption."""
        from .paths import PathResolver
        from .table_writer import _catalog_writer
        if self._txn_base is None:
            raise InvalidConfig("no transaction in progress")
        writer = _catalog_writer(self)
        try:
            dropped = writer.rollback_to_snapshot(
                self._txn_base, only=getattr(self, "_txn_snapshots", None))
        finally:
            writer.close()
        data_path = self.provider.get_data_path()
        resolver = PathResolver(data_path)
        root = os.path.normpath(data_path[len("file://"):]
                                if data_path.startswith("file://")
                                else data_path)
        for row in dropped:
            try:
                local = _resolve_catalog_file_row(resolver, row)
                # only files the txn staged INSIDE the lake — an
                # externally-registered add_files path is the user's
                # file, not ours to delete (add_files_rollback.test)
                if local is not None and "://" not in local and \
                        os.path.isfile(local) and \
                        local.startswith(root + os.sep):
                    os.remove(local)
            except Exception:
                pass    # orphan; delete_orphaned_files can sweep it
        self._txn_base = None
        self._pending_audit = None
        self.refresh()

    def set_not_null(self, name: str, col_name: str) -> None:
        """ALTER TABLE name ALTER col SET NOT NULL — validates existing
        data with one null-count aggregate over the column (the only scan
        DuckDB's equivalent also pays), then re-versions the column with
        nulls_allowed=0 (corpus: sql/constraints/not_null.test)."""
        from pyspark.sql import functions as F

        from .metadata.writer import ColumnDef
        handle = self.table_handle(name)
        target = {c.column_name: c for c in handle.columns}.get(col_name)
        if target is None:
            raise InvalidConfig(f"set_not_null: no column {col_name!r}")
        if not target.nulls_allowed:
            raise InvalidConfig(
                f"set_not_null: column {col_name!r} already has a "
                "NOT NULL constraint")
        nulls = (self.table(name).select(col_name)
                 .filter(F.col(col_name).isNull()).limit(1).count())
        if nulls:
            raise InvalidConfig(
                f"set_not_null: column \"{col_name}\" contains NULL values")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name, c.column_type,
                                    False if c.column_name == col_name
                                    else c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns])

    def drop_not_null(self, name: str, col_name: str) -> None:
        """ALTER TABLE name ALTER col DROP NOT NULL — metadata-only."""
        from .metadata.writer import ColumnDef
        handle = self.table_handle(name)
        target = {c.column_name: c for c in handle.columns}.get(col_name)
        if target is None:
            raise InvalidConfig(f"drop_not_null: no column {col_name!r}")
        if target.nulls_allowed:
            raise InvalidConfig(
                f"drop_not_null: column {col_name!r} has no NOT NULL "
                "constraint")
        self._alter_columns(name, [
            (c.column_id, ColumnDef(c.column_name, c.column_type,
                                    True if c.column_name == col_name
                                    else c.nulls_allowed,
                                    c.initial_default, c.default_value))
            for c in handle.columns])

    def delete_from(self, name: str, condition) -> int:
        """DELETE FROM name WHERE condition (str SQL expr or Column) —
        merge-on-read: writes cumulative positional-delete parquet per
        touched file, registered with supersedence in one snapshot
        (operators/dml.py). Returns rows deleted.

        Write-write conflicts on the same data file abort with
        TransactionConflict even under ducklake_max_retry_count — the
        retry option covers TRANSIENT backend contention (the commit
        lock), not semantic conflicts, matching the reference corpus
        where sql/concurrent/file_level_conflict.test's retried deletes
        all touch DISJOINT files while same-file races in
        transaction_conflicts_delete.test error regardless."""
        from .operators.dml import delete_rows
        return delete_rows(self, name, condition)

    def update_where(self, name: str, assignments: dict,
                     condition=None) -> int:
        """UPDATE name SET assignments WHERE condition — MOR delete of
        matched positions + append of rewritten rows keeping their
        ORIGINAL rowids (in-file rowid column, row_id_start NULL — the
        DuckLake stable-rowid contract, sql/rowid/
        ducklake_row_id_update.test), one snapshot. Returns rows
        updated."""
        from .operators.dml import update_rows
        return update_rows(self, name, assignments, condition)

    def merge_into(self, target: str, source: DataFrame, on: list[str],
                   when_matched_update=None, when_matched_delete=False,
                   when_not_matched_insert=True,
                   when_matched_pred=None, when_not_matched_pred=None,
                   when_matched_error=False,
                   by_source_delete=False, by_source_pred=None) -> dict:
        """MERGE INTO target USING source ON keys (sql/merge/ corpus
        shape): update/delete matches (optionally predicate-gated),
        insert unmatched source rows, raise on matches (THEN ERROR),
        delete target rows absent from the source (NOT MATCHED BY
        SOURCE) — one snapshot. See operators/dml.merge_rows."""
        from .operators.dml import merge_rows
        return merge_rows(self, target, source, on, when_matched_update,
                          when_matched_delete, when_not_matched_insert,
                          when_matched_pred=when_matched_pred,
                          when_not_matched_pred=when_not_matched_pred,
                          when_matched_error=when_matched_error,
                          by_source_delete=by_source_delete,
                          by_source_pred=by_source_pred)

    def compact(self, name: str, preserve_rowids: bool = True) -> int:
        """Rewrite a table's live data (deletes applied) into fresh clean
        files in one snapshot, so MOR debt collapses and later scans
        filter no deletes.

        With ``preserve_rowids`` (default), virtual rowids survive the
        rewrite: one output file per contiguous surviving rowid run (the
        DuckLake rowid contract), staged before one catalog commit
        (table_writer.compact_table). ``preserve_rowids=False``
        renumbers through the overwrite path."""
        from .table_writer import compact_table, create_or_insert
        if preserve_rowids:
            return compact_table(self, name)
        return create_or_insert(self, name, self.table(name),
                                mode="overwrite")

    def cluster_by(self, name: str, key: str, buckets: int,
                   sort: bool = True, replica: bool = False) -> int:
        """Hash-cluster a table by ``key`` into ``buckets`` bucket files
        registered in the DuckLake catalog (maintenance Replace snapshot,
        rowids preserved, CDC-silent) and record the layout as a
        table-scoped ``clustering`` option. Unchanged tables then scan
        bucketed: two facts clustered on the same key join with zero
        exchanges. ``replica=True`` builds a SECOND clustered family
        under a different key without touching the live file set —
        served by ``table(name, cluster_key=key)`` while the table is
        unchanged. See operators/layout.cluster_by."""
        from .operators.layout import cluster_by
        return cluster_by(self, name, key, buckets, sort=sort,
                          replica=replica)

    def clustering_status(self, name: Optional[str] = None) -> DataFrame:
        """One row per clustering entry (primary spec + each replica
        family) with a ``current`` flag — the user-visible staleness
        surface (r8 verdict Missing #5: a single DML silently degraded
        every ``table(name, cluster_key=K)`` read to the plain scan with
        nothing reporting it). SQL twin:
        ``SELECT * FROM ducklake_clustering_info()``. ``name`` filters
        to one table."""
        from .operators.info_schema import clustering_df
        return clustering_df(self, name)

    def create_materialized_view(self, name: str, sql_text: str,
                                 if_not_exists: bool = False) -> int:
        """CREATE MATERIALIZED VIEW — a catalog TABLE materializing the
        definition, refreshable incrementally from the CDC feed when
        the shape allows (see operators/matview.py). SQL:
        ``CREATE MATERIALIZED VIEW [IF NOT EXISTS] name AS SELECT``."""
        from .operators.matview import create_materialized_view
        return create_materialized_view(self, name, sql_text,
                                        if_not_exists=if_not_exists)

    def refresh_materialized_view(self, name: str) -> dict:
        """Bring an MV up to the source's current snapshot — insert-only
        windows of a recognized aggregate shape MERGE a per-group delta
        (cost O(|changes|)); everything else recomputes in full. SQL:
        ``CALL ducklake_refresh_materialized_view('name')``."""
        from .operators.matview import refresh_materialized_view
        return refresh_materialized_view(self, name)

    def drop_materialized_view(self, name: str,
                               if_exists: bool = False) -> None:
        """DROP MATERIALIZED VIEW name — clears the spec and drops the
        backing table."""
        from .operators.matview import drop_materialized_view
        return drop_materialized_view(self, name, if_exists=if_exists)

    def matview_status(self, name: Optional[str] = None) -> DataFrame:
        """One row per materialized view with its source, refresh
        capability, covered snapshot, and a catalog-level ``current``
        flag. SQL twin: ``SELECT * FROM ducklake_matview_info()``."""
        from .operators.info_schema import materialized_views_df
        return materialized_views_df(self, name)

    def refresh_replica(self, name: str, key: Optional[str] = None) -> int:
        """Rebuild diverged replica families by re-running the bucketed
        export with each spec's recorded (buckets, sort) — the recovery
        path for a replica invalidated by DML (r8 verdict Missing #5:
        previously only a manual re-``cluster_by`` restored the
        zero-exchange plan). ``key`` names one family (rebuilt even if
        current — an explicit refresh is a user command); with
        ``key=None`` every NON-current family of the table rebuilds
        (non-current by the SAME predicate ``clustering_status`` reports:
        columns/types mismatch after a schema change, live-set digest
        divergence, or live inlined rows — cluster_by flushes the latter
        itself) and current ones are left untouched. A family whose key
        column no longer exists in the live schema (renamed/dropped away)
        cannot rebuild — it is skipped with a warning; drop it or
        re-cluster under the new name. The superseded bucket dirs are
        named in no live spec afterwards, so the next
        ``delete_orphaned_files`` collects them. Returns the number of
        families rebuilt. SQL:
        ``CALL ducklake_refresh_replica('table' [, 'key'])``."""
        import json
        import warnings

        from .errors import InvalidConfig
        from .operators.layout import _has_inlined_rows
        handle = self.table_handle(name)
        raw = self.provider.get_scoped_option(
            "clustering_replicas", None, handle.meta.table_id)
        specs = None
        if raw:
            try:
                specs = json.loads(raw)
            except (ValueError, TypeError):
                specs = None
        if not isinstance(specs, dict):
            specs = {}
        if key is not None:
            if key not in specs or not isinstance(specs[key], dict):
                raise InvalidConfig(
                    f"table {name} has no clustering replica on {key!r} "
                    f"(build one with cluster_by(..., replica=True))")
            targets = [key]
        else:
            # currency must match what clustering_status/
            # ducklake_clustering_info REPORT as current=false, or a
            # blanket refresh can return 0 while the status surface
            # keeps showing stale families (r9 advice)
            digest = handle._live_set_digest()
            col_names = [c.column_name for c in handle.columns]
            col_types = [c.column_type for c in handle.columns]
            inlined = _has_inlined_rows(
                self.provider, handle.meta.table_id,
                handle.snapshot_id, col_names)
            targets = [k for k, s in sorted(specs.items())
                       if isinstance(s, dict)
                       and (s.get("live_digest") != digest
                            or s.get("columns") != col_names
                            or s.get("types") != col_types
                            or inlined)]
        live_names = {c.column_name for c in handle.columns}
        refreshed = 0
        for k in targets:
            spec = specs[k]
            if k not in live_names:
                if key is not None:
                    raise InvalidConfig(
                        f"replica key {k!r} is no longer a column of "
                        f"{name}; drop the replica or cluster_by the "
                        f"renamed column")
                warnings.warn(
                    f"refresh_replica({name!r}): family {k!r} skipped — "
                    f"its key is no longer a column (renamed/dropped); "
                    f"drop_clustering_replica or cluster_by the new name",
                    stacklevel=2)
                continue
            self.cluster_by(name, k, int(spec.get("buckets", 32)),
                            sort=bool(spec.get("sort", True)), replica=True)
            refreshed += 1
        return refreshed

    def drop_clustering_replica(self, name: str,
                                key: Optional[str] = None) -> int:
        """Remove the replica clustering spec for ``key`` (or ALL of the
        table's replicas with key=None). The replica's bucket files are
        then named in no live spec, so the next
        ``delete_orphaned_files`` collects them — the disposal path for
        a replica invalidated by DML (its live-set digest can never
        match again; only a same-key rebuild or this call frees the
        storage). Returns the number of specs removed."""
        import json
        from .table_writer import _catalog_writer
        handle = self.table_handle(name)
        raw = self.provider.get_scoped_option(
            "clustering_replicas", None, handle.meta.table_id)
        if raw is None:
            return 0
        try:
            specs = json.loads(raw)
        except (ValueError, TypeError):
            specs = {}
        if not isinstance(specs, dict):
            specs = {}
        if key is None:
            removed, specs = len(specs), {}
        else:
            removed = 1 if specs.pop(key, None) is not None else 0
        writer = _catalog_writer(self)
        try:
            writer.set_option(
                "clustering_replicas",
                json.dumps(specs) if specs else None,
                scope="table", scope_id=handle.meta.table_id)
        finally:
            writer.close()
        self.refresh()
        return removed

    def _rewrite_threshold(self, explicit: "float | None") -> float:
        """Effective delete-fraction gate for the CALL surface:
        explicit ``delete_threshold`` argument > the
        ``rewrite_delete_threshold`` catalog option > 0.95 (the upstream
        default — sql/rewrite_data_files/test_last_snapshot_rewrite:
        a 60%-deleted file is NOT rewritten without an argument)."""
        if explicit is not None:
            if not (0.0 <= explicit <= 1.0):
                raise InvalidConfig(
                    "The delete_threshold option must be between 0 and 1")
            return explicit
        opt = self.provider.get_option("rewrite_delete_threshold")
        return float(opt) if opt is not None else 0.95

    def rewrite_data_files(self, name: "str | None" = None,
                           delete_threshold: "float | None" = None
                           ) -> int:
        """Selective MOR-debt rewrite (CALL ducklake_rewrite_data_files —
        sql/rewrite_data_files/ corpus): rewrite only files carrying
        delete debt; clean files stay untouched. Rowids preserved.
        ``name`` None spans every table (upstream's whole-DB form —
        test_rewrite_db.test). ``delete_threshold`` additionally gates
        on each file's deleted FRACTION (delete_count/record_count >=
        threshold rewrites — upstream's cost guard: a barely-dirty file
        isn't worth rewriting); None rewrites every dirty file (library
        default — the SQL CALL resolves the upstream 0.95 default
        instead)."""
        from .table_writer import rewrite_data_files
        if name is not None:
            return rewrite_data_files(self, name,
                                      delete_threshold=delete_threshold)
        snap = self.provider.get_current_snapshot()
        return sum(
            rewrite_data_files(self, f"{sch}.{t.table_name}",
                               delete_threshold=delete_threshold)
            for sch, t in self.provider.list_all_tables(snap))

    def add_files(self, name: str, parquet_paths: list[str],
                  allow_missing: bool = False,
                  hive_partitioning: Optional[bool] = None,
                  ignore_extra_columns: bool = False) -> int:
        """Register existing parquet files into a table without rewriting
        them (the corpus's add_files operation, mirroring DuckDB's
        ``CALL ducklake_add_data_files``): validates each footer's schema
        against the table schema (promotion rules), then records the files
        in one new snapshot. Returns rows added.

        Paths may be glob patterns (``**`` recurses). A table column
        absent from a file is an error unless its value is encoded as a
        hive-style ``name=value`` path segment (auto-detected; force with
        ``hive_partitioning``, recorded as is_partition mapping rows and
        synthesized min=max file stats so catalog pruning stays exact) or
        ``allow_missing`` is set (reads NULL). Corpus: sql/add_files/."""
        import glob as _glob

        from .metadata.writer import DataFileInfo
        from .table_writer import (_catalog_writer, column_stats_of,
                                   footer_size_of, nested_stats_ids)
        from .types import (is_geometry_type, spark_to_ducklake_type,
                            types_compatible)

        import pyarrow.parquet as pq

        from .errors import InvalidConfig

        expanded: list[str] = []
        for p in parquet_paths:
            if "://" in p:
                expanded.append(p)
            elif any(ch in p for ch in "*?["):
                matches = sorted(m for m in _glob.glob(p, recursive=True)
                                 if os.path.isfile(m))
                if not matches:
                    raise InvalidConfig(
                        f"Failed to add data files: no files match {p!r}")
                expanded.extend(matches)
            elif not os.path.isfile(p):
                raise InvalidConfig(
                    f"Failed to add data files: {p!r} does not exist")
            else:
                expanded.append(p)

        handle = self.table_handle(name)
        tname = name.rsplit(".", 1)[-1]
        expected = {c.column_name: c.column_type for c in handle.columns}
        column_ids = {c.column_name: c.column_id for c in handle.columns}
        stats_ids = {**column_ids, **nested_stats_ids(handle.columns)}
        geo_cols = {c.column_name for c in handle.columns
                    if is_geometry_type(c.column_type)}
        # every file is validated (and its stats read) before the
        # catalog is touched; then one transaction registers them all,
        # so a bad file leaves no snapshot and no rows behind
        checked = []
        for path in expanded:
            meta = pq.read_metadata(path)
            schema = pq.read_schema(path)
            for k in range(len(meta.schema)):
                # TIME unit gate over the leaves the table will
                # actually READ (nested included): the era-proof
                # scan reads time physically as int64 and interprets
                # the values as MICROSECONDS of day — a TIME(NANOS)/
                # TIME(MILLIS) file would silently read 1000x off,
                # so only µs-annotated files register. Leaves under
                # an EXTRA column are exempt: ignore_extra_columns
                # omits them from the mapping, so they are never
                # scanned (and without the flag the per-column loop
                # below rejects the file anyway).
                leaf = meta.schema.column(k)
                top = leaf.path.split(".", 1)[0]
                if top not in expected:
                    continue
                leaf_log = str(getattr(leaf, "logical_type", "")
                               or "")
                if leaf_log.startswith("Time(") \
                        and "microseconds" not in leaf_log:
                    raise InvalidConfig(
                        f"add_files: column '{leaf.path}' in {path} "
                        f"has parquet type {leaf_log} — only "
                        "TIME(MICROS) files are supported (the "
                        "engine's time representation is µs)")
            extra_cols: list[str] = []
            for i, col_name in enumerate(schema.names):
                if col_name not in expected:
                    if ignore_extra_columns:
                        # sql/add_files/add_files_extra_columns.test:
                        # the mapping below simply omits the column,
                        # so scans never read it
                        extra_cols.append(col_name)
                        continue
                    raise InvalidConfig(
                        f"add_files: column '{col_name}' in {path} not "
                        f"in table {name}; add ignore_extra_columns => "
                        f"true to register anyway")
                import pyarrow as _pa
                if (expected[col_name].strip().lower() == "uuid"
                        and schema.types[i] == _pa.binary(16)):
                    # parquet UUID surfaces as fixed_size_binary[16]
                    # (sql/add_files/add_files_type_check_uuid.test);
                    # the scan reads it as the table's binary-backed
                    # uuid representation
                    continue
                if (expected[col_name].strip().lower() == "interval"
                        and schema.types[i] == _pa.binary(12)):
                    # parquet INTERVAL surfaces as
                    # fixed_size_binary[12] in pyarrow; the scan
                    # decodes it to struct<months,days,micros>.
                    # This is the supported write-side interop path
                    # for interval tables: create_empty_table +
                    # add_files of an externally-written file.
                    # Unlike the byte-transparent uuid rule above,
                    # the decode is SEMANTIC — require the parquet
                    # INTERVAL logical annotation so an arbitrary
                    # 12-byte blob column can't register and be
                    # silently misread as (months, days, millis)
                    phys = next(
                        (meta.schema.column(k)
                         for k in range(len(meta.schema))
                         if meta.schema.column(k).path == col_name),
                        None)
                    conv = str(getattr(phys, "converted_type", "")
                               or "") if phys is not None else ""
                    logi = str(getattr(phys, "logical_type", "")
                               or "") if phys is not None else ""
                    if "INTERVAL" in conv.upper() \
                            or "INTERVAL" in logi.upper():
                        continue
                    raise InvalidConfig(
                        f"add_files: column '{col_name}' in {path} "
                        "is fixed 12-byte binary without the "
                        "parquet INTERVAL logical type — refusing "
                        "to register it into an INTERVAL column")
                from pyspark.sql.pandas.types import from_arrow_type
                try:
                    spark_t = from_arrow_type(schema.types[i],
                                              prefer_timestamp_ntz=True)
                except Exception as e:
                    raise InvalidConfig(
                        f"add_files: column '{col_name}' in {path} has "
                        f"arrow type {schema.types[i]} with no Spark "
                        f"mapping — incompatible with table type "
                        f"{expected[col_name]} ({e})") from e
                file_type = spark_to_ducklake_type(spark_t)
                if not types_compatible(file_type, expected[col_name]):
                    # legacy 2-level LIST files (old Hive/Avro/Spark
                    # writeLegacyFormat): pyarrow wraps the element in
                    # a single-field struct the Spark reader will
                    # collapse — retry the check through the same
                    # collapse (sql/add_files/add_old_list.test)
                    from .types import normalize_legacy_arrow_lists
                    try:
                        alt = from_arrow_type(
                            normalize_legacy_arrow_lists(schema.types[i]),
                            prefer_timestamp_ntz=True)
                        alt_type = spark_to_ducklake_type(alt)
                    except Exception:
                        alt_type = file_type
                    if types_compatible(alt_type, expected[col_name]):
                        file_type = alt_type
                    else:
                        raise InvalidConfig(
                            f"add_files: column '{col_name}' type "
                            f"{file_type} incompatible with table type "
                            f"{expected[col_name]}")
                if not allow_missing:
                    from .types import missing_nested_fields
                    missing = missing_nested_fields(
                        file_type, expected[col_name], col_name)
                    if missing:
                        # upstream contract (add_files_missing_fields.
                        # test): an absent nested field errors unless
                        # allow_missing — otherwise it would silently
                        # read NULL
                        raise InvalidConfig(
                            f'add_files: Column "{missing[0]}" exists '
                            f'in table "{tname}" but was not found in '
                            f'file {path}; pass allow_missing => true '
                            f'to read NULL')
            # table columns the file does not store: hive path segment
            # (value injected at scan), else NULL under allow_missing,
            # else error — the reference's default contract
            hive_cols: list[str] = []
            for col_name in expected:
                if col_name in schema.names:
                    continue
                if hive_partitioning is not False and any(
                        seg.startswith(f"{col_name}=")
                        for seg in path.split("/")[:-1]):
                    hive_cols.append(col_name)
                elif not allow_missing:
                    raise InvalidConfig(
                        f'Column "{col_name}" exists in table "{tname}" '
                        f'but was not found in file "{path}". Add '
                        f"allow_missing => true to fill missing columns "
                        f"with NULL, or hive_partitioning => true if the "
                        f"value is encoded in the path")
            # External files without field ids get a map_by_name mapping
            # recorded in the catalog, so scans never need to probe their
            # footers again (one probe here, at registration time).
            # Hive-sourced columns always force a mapping: their
            # is_partition rows ARE the injection instruction.
            has_ids = any(
                schema.field(i).metadata
                and b"PARQUET:field_id" in schema.field(i).metadata
                for i in range(len(schema.names)))
            known_names = [n for n in schema.names if n in expected]
            mapped = not has_ids or hive_cols or extra_cols
            stats = column_stats_of(path, stats_ids, geo_cols)
            for col in hive_cols:
                # exact synthetic stats (min=max=path value) — catalog
                # file pruning on partition keys needs no footer I/O
                val = _hive_value(path, col)
                nulls = meta.num_rows if val is None else 0
                stats.append((column_ids[col], 0, meta.num_rows,
                              nulls, val, val, False))
            checked.append((path, meta.num_rows, mapped, known_names,
                            hive_cols, stats))
        tid = handle.meta.table_id
        writer = _catalog_writer(self)
        try:
            with writer._txn():
                snapshot_id = writer.create_snapshot(
                    [f"inserted_into_table:{tid}"])
                next_rowid = writer.next_row_id(tid)
                for path, rows, mapped, known_names, hive_cols, stats \
                        in checked:
                    mapping_id = writer.create_name_mapping(
                        tid, known_names,
                        [column_ids[n] for n in known_names],
                        partition_cols=[(c, column_ids[c])
                                        for c in hive_cols]) \
                        if mapped else None
                    fid = writer.register_data_file(
                        tid, snapshot_id,
                        DataFileInfo(path=os.path.abspath(path),
                                     path_is_relative=False,
                                     file_size_bytes=os.path.getsize(path),
                                     footer_size=footer_size_of(path),
                                     record_count=rows,
                                     row_id_start=next_rowid,
                                     mapping_id=mapping_id))
                    writer.register_file_column_stats(fid, tid, stats)
                    next_rowid += rows
        finally:
            writer.close()
        self.refresh()
        return sum(c[1] for c in checked)

    def copy_to(self, source: str, dest: str, options: str = "") -> int:
        """COPY (SELECT ...) TO 'file' / COPY table TO 'file' — the
        export surface (single parquet or csv file; format from the
        option list or the extension). Distributed compute, single-file
        finalize (the export contract is ONE file). Returns rows
        written."""
        import shutil
        import uuid as _uuid
        if source.startswith("("):
            df = self.sql(source[1:-1].strip())
        else:
            df = self.table(source if "." in source
                            else f"{DEFAULT_SCHEMA}.{source}")
        fmt = "csv" if re.search(r"FORMAT\s+CSV", options, re.I) \
            or dest.lower().endswith(".csv") else "parquet"
        if "://" in dest:
            raise InvalidConfig(
                f"COPY TO supports local paths only (got {dest})")
        staging = f"{dest}.stage-{_uuid.uuid4().hex}"
        try:
            w = df.coalesce(1).write
            if fmt == "csv":
                w = w.option("header", "true")
            getattr(w, fmt)(staging)
            part = next(p for p in os.listdir(staging)
                        if p.startswith("part-"))
            os.makedirs(os.path.dirname(os.path.abspath(dest)),
                        exist_ok=True)
            shutil.move(os.path.join(staging, part), dest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if fmt == "parquet":
            import pyarrow.parquet as pq
            return pq.read_metadata(dest).num_rows
        with open(dest) as f:
            return max(sum(1 for _ in f) - 1, 0)

    def create_empty_table(self, name: str, col_defs: str,
                           if_not_exists: bool = False) -> None:
        """CREATE TABLE name (a INTEGER, b VARCHAR NOT NULL,
        c INT DEFAULT 7, ...) — the column-definition DDL the corpus
        uses everywhere. Types go through the DuckLake type parser
        (nested struct/map/list included); NOT NULL and DEFAULT reach
        the catalog like their ALTER counterparts."""
        from pyspark.sql import types as T

        from .metadata.writer import ColumnDef
        from .table_writer import _catalog_writer
        from .types import ducklake_to_spark_type
        schema_name, table_name = self._split(name)
        snap = self.provider.get_current_snapshot()
        meta = self.provider.get_schema_by_name(schema_name, snap)
        if meta is not None and self.provider.table_exists(
                meta.schema_id, table_name, snap):
            if if_not_exists:
                return
            raise InvalidConfig(f"Table already exists: {name}")
        if meta is not None and any(
                v.view_name == table_name
                for v in self.provider.list_views(meta.schema_id, snap)):
            # tables and views share one namespace
            raise InvalidConfig(
                f"cannot create table {name!r}: a view with that name "
                "already exists")
        cols = []
        for part in self._split_top_level(col_defs, angle=True):
            if re.search(r"\bAS\s*\(", part, re.I):
                # sql/general/generated_columns.test
                raise InvalidConfig(
                    "DuckLake does not support generated columns: "
                    f"{part.strip()!r}")
            # sql/constraints/unsupported.test: PRIMARY KEY / UNIQUE /
            # CHECK / FOREIGN KEY are rejected with the reference's
            # wording, not a misleading type-parse error. Keywords are
            # matched OUTSIDE string literals and quoted identifiers —
            # DEFAULT 'unique' or a column named "references" is fine.
            bare = re.sub(r"'(?:[^']|'')*'|\"[^\"]*\"", " ", part)
            kw = re.search(
                r"\b(PRIMARY\s+KEY|UNIQUE|REFERENCES|FOREIGN\s+KEY)\b"
                r"|^\s*CHECK\s*\(", bare, re.I)
            if kw:
                label = (kw.group(1) or "CHECK").upper()
                label = re.sub(r"\s+", " ", label)
                raise InvalidConfig(
                    f"{label} constraints are not supported in DuckLake")
            m = re.match(
                r"^\s*\"?([A-Za-z_]\w*)\"?\s+(.+?)"
                r"(\s+NOT\s+NULL)?(?:\s+DEFAULT\s+(.+?))?\s*$",
                part, re.I | re.S)
            if not m:
                raise InvalidConfig(f"CREATE TABLE: bad column def {part!r}")
            cname, ctype, notnull, default = m.groups()
            mapped = ducklake_to_spark_type(ctype.strip())
            cols.append(ColumnDef(cname, mapped.canonical,
                                  not notnull,
                                  None,
                                  default.strip() if default else None))
        from .metadata.writer import WriteMode
        writer = _catalog_writer(self)
        try:
            writer.begin_write_transaction(
                schema_name, table_name, cols, WriteMode.APPEND)
        finally:
            writer.close()
        self.refresh()

    def create_table(self, name: str, df: DataFrame, mode: str = "error",
                     single_file: bool = True) -> int:
        from .table_writer import create_or_insert
        return create_or_insert(self, name, df, mode="create",
                                single_file=single_file,
                                if_exists=mode)

    def insert_into(self, name: str, df: DataFrame, overwrite: bool = False,
                    single_file: bool = True) -> int:
        from .table_writer import create_or_insert
        return create_or_insert(
            self, name, df, mode="overwrite" if overwrite else "append",
            single_file=single_file)
