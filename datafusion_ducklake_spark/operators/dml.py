"""DML beyond INSERT: DELETE / UPDATE / MERGE INTO over DuckLake tables
(merge-on-read).

The reference's own write surface stops at INSERT (src/insert_exec.rs);
the positional-delete files it READS (src/delete_filter.rs) are produced
by DuckDB's ducklake extension. This module emits exactly those artifacts
— a CUMULATIVE positional-delete parquet ``(file_path, pos)`` per touched
data file, registered with supersedence
(metadata/writer.register_delete_file, mirroring SQL_GET_DATA_FILES'
per-snapshot LEFT JOIN semantics) — so this engine's DML output reads
back identically from DuckDB. Corpus parity: sql/delete/, sql/update/,
sql/merge/ in the reference's vendored sqllogictests.

Scale shape (100 TB discipline):
- match: the table's shared scan (sources/scan.scan_table with the
  virtual columns): existing deletes already filtered, rowid attached,
  and each row keyed by its resolved data-file URI (``filename``) and
  file-local position (``file_row_number``); initial_default filled as
  for a SELECT; the predicate is pushed into the parquet scan by
  Catalyst. No driver-side row movement.
- write: matched positions group by file; each task ORs them into its
  file's prior deletion vector (shipped from the driver, which loaded
  it for the match scan), writes the cumulative delete parquet via
  pyarrow.fs (executor-side, object-store capable) and returns a
  ONE-ROW manifest. Only the manifest reaches the driver (O(touched
  files), never O(rows)); no delete file is read through Spark.
- commit: appended rows are staged first (table_writer.stage_files);
  then ONE catalog transaction writes the snapshot, every delete
  registration and every appended data file, so a conflict on any
  touched file commits nothing. UPDATE keeps rowids STABLE (the DuckLake
  contract, sql/rowid/ducklake_row_id_update.test): rewritten rows carry
  their original ids as the reserved in-file rowid column and the new
  file registers with row_id_start NULL; MERGE and non-preservable
  tables (encrypted, foreign fixtures without starts) append with fresh
  ids.
"""

from __future__ import annotations

import uuid
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import InvalidConfig, MergeActionError
from ..sources.scan import (FILE_COL, POS_COL, deletion_vectors,
                            scan_table)
from ..table_writer import (_catalog_writer, register_files, stage_files,
                            target_of)

_MANIFEST_SCHEMA = ("file_name string, delete_name string, "
                    "cum_count long, new_count long, size long, "
                    "enc_key string")


def _as_condition(condition: Union[str, Column, None]) -> Column:
    if condition is None:
        return F.lit(True)
    return F.expr(condition) if isinstance(condition, str) else condition


def _require_no_inlined(handle) -> None:
    if handle.inlined_tables and handle.inlined_rows():
        raise InvalidConfig(
            "DML over tables with live inlined data rows is not supported "
            "— call flush_inlined_data() first (positional deletes only "
            "address parquet rows)")


def _match_inlined(handle, condition, using: Optional[DataFrame] = None,
                   target_alias: Optional[str] = None
                   ) -> Optional[DataFrame]:
    """Matched LIVE inlined rows (rowid + data columns) for a DML
    predicate, or None when the table has none. Inlined sets are bounded
    by the inlining row limit, so driver-side handling is the right cost
    shape (corpus: sql/data_inlining/data_inlining_delete.test — DELETE/
    UPDATE work directly over inlined rows, no flush required)."""
    if not (handle.inlined_tables and handle.inlined_rows()):
        return None
    base = handle._inlined_df(with_rowid=True)
    if base is None:
        return None
    if using is not None:
        lv = base.alias(target_alias) if target_alias else base
        return lv.join(using, _as_condition(condition), "left_semi")
    return base.filter(_as_condition(condition))


def rowids_preservable(handle) -> bool:
    """True when every live parquet file can yield exact rowids (a
    catalog row_id_start, or the explicit in-file row_id column of an
    UPDATE-rewritten file) — the precondition for keeping rowids stable
    through UPDATE (sql/rowid/ducklake_row_id_update.test)."""
    from ..sources.scan import file_has_rowid_column
    for f in handle.files:
        if f.encryption_key is not None:
            return False    # PME rewrite path renumbers (documented)
        if f.row_id_start is None and not file_has_rowid_column(f.data_uri):
            return False
    return True


def _live_with_filepos(session, handle, with_rowid: bool = False
                       ) -> DataFrame:
    """The table's LIVE parquet rows (callers handle inlined rows via
    _match_inlined) as the shared scan reads them — deletes applied,
    initial_default filled — with the data-file URI (FILE_COL) and
    file-local position (POS_COL) attached. ``with_rowid`` (callers must
    have checked rowids_preservable) keeps each row's exact ``rowid``."""
    df = scan_table(session.spark, handle.spark_schema, handle.files,
                    with_virtual=True)
    # positional rename: a user column may share a virtual column's name
    names = [f.name for f in handle.spark_schema.fields]
    df = df.toDF(*names, "rowid", FILE_COL, POS_COL, "__file_index",
                 "__snapshot")
    df = handle.fill_initial_defaults(df, F.col("__snapshot"))
    return df.select(*names, *(["rowid"] if with_rowid else []),
                     FILE_COL, POS_COL)


def _pyarrow_dest(table_path: str):
    """(filesystem, base_dir) for executor-side pyarrow writes."""
    import pyarrow.fs as pafs
    p = table_path
    if p.startswith("file://"):
        p = p[len("file://"):]
    if "://" in p:
        if p.startswith("s3a://"):          # Spark scheme -> pyarrow scheme
            p = "s3://" + p[len("s3a://"):]
        fs, base = pafs.FileSystem.from_uri(p)
        return fs, base
    return pafs.LocalFileSystem(), p


def _delete_file_options(settings, target) -> dict:
    """pyarrow ``write_table`` options for a table's delete files: the
    parquet_compression (and, for zstd, parquet_compression_level)
    settings that its data files honour."""
    def get(key):
        return settings.get(key, target.schema_id, target.table_id)
    opts = {}
    comp = (get("parquet_compression") or "").lower()
    if comp:
        opts["compression"] = "none" if comp == "uncompressed" else comp
    level = get("parquet_compression_level")
    if level and comp == "zstd":
        opts["compression_level"] = int(level)
    return opts


def _write_delete_parquets(spark, matched_pos: DataFrame, prior: dict,
                           table_path: str, encrypt: bool = False,
                           options: Optional[dict] = None) -> list:
    """Write one cumulative delete parquet per TOUCHED file from the
    executors; returns the collected manifest rows (O(files)).
    ``options`` are pyarrow write options (``_delete_file_options``).

    ``matched_pos`` carries the positions this DML newly matched;
    ``prior`` maps each dirty data file's URI to the deletion vector of
    its live delete file (scan.deletion_vectors — the match scan has just
    loaded them). Each touched file's task ORs its matched positions into
    its prior words, so no delete file is read or shuffled by the job and
    untouched files are not written. The manifest's ``new_count`` sum IS
    the matched-row count, so no separate .count() action (a second
    execution of the match join) is ever needed."""

    def write_group(pdf):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        fname = pdf[FILE_COL].iloc[0]
        words = prior.get(fname, np.zeros(0, np.int64))
        # bit k of the little-endian words is position k
        old = np.flatnonzero(np.unpackbits(words.astype("<i8").view(np.uint8),
                                           bitorder="little"))
        positions = np.union1d(pdf[POS_COL].to_numpy(dtype="int64"), old)
        fs, base = _pyarrow_dest(table_path)
        try:
            # the table dir may not exist yet: a table populated only
            # via add_files (absolute external paths) never had a data
            # write create it. Idempotent; object stores have no dirs.
            fs.create_dir(base, recursive=True)
        except OSError:
            pass
        name = f"ducklake-delete-{uuid.uuid4()}.parquet"
        dest = base.rstrip("/") + "/" + name
        tbl = pa.table({
            "file_path": pa.array([fname] * len(positions), pa.string()),
            "pos": pa.array(positions, pa.int64())})
        enc_key = None
        if encrypt:
            # encrypted catalog: delete files are PME parquet too
            # (sql/encryption/encryption.test asserts *-del*.parquet
            # is unreadable as plain parquet)
            import base64
            import secrets

            from ..sources.encryption import write_encrypted
            key = secrets.token_bytes(16)
            enc_key = base64.b64encode(key).decode("ascii")
            write_encrypted(tbl, dest, key)
        else:
            with fs.open_output_stream(dest) as out:
                pq.write_table(tbl, out, **(options or {}))
        size = fs.get_file_info(dest).size
        return pd.DataFrame([{"file_name": fname, "delete_name": name,
                              "cum_count": len(positions),
                              "new_count": len(pdf), "size": size,
                              "enc_key": enc_key}])

    return (matched_pos.repartition(FILE_COL).groupBy(FILE_COL)
            .applyInPandas(write_group, _MANIFEST_SCHEMA).collect())


def _register_deletes(writer, handle, snapshot_id: int, manifest) -> None:
    by_uri = {rf.data_uri: (f.data_file_id,
                            f.delete_file.delete_file_id
                            if f.delete_file is not None else None)
              for f, rf in zip(handle._raw_files, handle.files)}
    for row in sorted(manifest, key=lambda r: r["file_name"]):
        entry = by_uri.get(row["file_name"])
        if entry is None:
            raise InvalidConfig(
                f"delete manifest references unknown data file "
                f"{row['file_name']!r}")
        fid, prev_delete_id = entry
        # optimistic concurrency: the cumulative file was computed from
        # prev_delete_id's positions — a concurrent DML superseding it
        # must abort this one, not be silently overwritten
        writer.register_delete_file(
            handle.meta.table_id, fid, snapshot_id, row["delete_name"],
            True, int(row["size"]), int(row["cum_count"]),
            expected_prev_delete_id=prev_delete_id,
            encryption_key=row["enc_key"])


def delete_rows(session, name: str,
                condition: Union[str, Column],
                using: Optional[DataFrame] = None,
                target_alias: Optional[str] = None) -> int:
    """DELETE FROM name [USING using] WHERE condition. With ``using``
    the matched set is a LEFT SEMI join (each target row deletes at most
    once no matter how many using-rows it matches — DuckDB's USING
    semantics; corpus: sql/delete/delete_join.test). Returns rows
    deleted."""
    handle = session.table_handle(name)
    inl = _match_inlined(handle, condition, using, target_alias)
    inl_ids = [int(r["rowid"]) for r in inl.select("rowid").collect()] \
        if inl is not None else []
    live = _live_with_filepos(session, handle)
    if using is not None:
        lv = live.alias(target_alias) if target_alias else live
        matched = lv.join(using, _as_condition(condition),
                          "left_semi").select(FILE_COL, POS_COL)
    else:
        matched = live.filter(_as_condition(condition)).select(FILE_COL,
                                                               POS_COL)
    n_matched, _ = _delete_and_append(session, handle, matched, None,
                                      inlined_row_ids=inl_ids)
    return n_matched


def update_rows(session, name: str, assignments: dict,
                condition: Union[str, Column, None] = None,
                from_df: Optional[DataFrame] = None,
                target_alias: Optional[str] = None) -> int:
    """UPDATE name SET assignments [FROM from_df] WHERE condition — MOR
    delete of the matched positions + append of the rewritten rows,
    KEEPING their rowids whenever every live file can yield exact ids
    (the DuckLake stable-rowid contract). ``assignments``:
    column -> SQL expr string or Column, evaluated over the matched rows
    (with ``from_df``, over the join — so they may reference the source;
    a target row matching MULTIPLE source rows is rejected as ambiguous,
    the corpus's update_join_duplicates contract). Returns rows
    updated."""
    handle = session.table_handle(name)
    data_cols = [c.column_name for c in handle.columns]
    unknown = set(assignments) - set(data_cols)
    if unknown:
        raise InvalidConfig(f"update: unknown columns {sorted(unknown)}")
    if from_df is not None:
        # UPDATE ... FROM over live inlined rows stays behind the flush
        # guard (the ambiguity check is position-keyed)
        _require_no_inlined(handle)
        inl = None
    else:
        inl = _match_inlined(handle, condition)
    inl_ids = [int(r["rowid"]) for r in inl.select("rowid").collect()] \
        if inl is not None else []
    # rowid stability through UPDATE (sql/rowid/ducklake_row_id_update.
    # test): when every live file can yield exact rowids, the rewritten
    # rows keep them — written as the reserved in-file rowid column,
    # registered with row_id_start NULL. Otherwise (encrypted / foreign
    # fixtures without starts) the legacy fresh-rowid path applies.
    keep_rowids = rowids_preservable(handle)
    live = _live_with_filepos(session, handle, with_rowid=keep_rowids)
    # Persist the matched set for the DML's duration: both halves (the
    # delete-position write and the rewrite append) consume it, and the
    # cache bounds the live scan + predicate to ONE execution. Size is
    # bounded by the rewrite set, which is materialized as parquet anyway.
    if from_df is not None:
        from pyspark.sql import Window
        lv = live.alias(target_alias) if target_alias else live
        cached = (lv.join(from_df, _as_condition(condition), "inner")
                  .withColumn("__n_matches",
                              F.count(F.lit(1)).over(
                                  Window.partitionBy(FILE_COL, POS_COL)))
                  .persist())
        if cached.filter(F.col("__n_matches") > 1).limit(1).count():
            cached.unpersist()
            raise InvalidConfig(
                "UPDATE ... FROM: a target row matches multiple source "
                "rows — ambiguous update rejected")
        matched = cached.drop("__n_matches")
    else:
        cached = matched = live.filter(_as_condition(condition)).persist()
    try:
        types = {f.name: f.dataType for f in handle.spark_schema.fields}
        # cast every assignment to the column's catalog type — SQL literals
        # otherwise change it (Spark parses `0.0` as DECIMAL(1,1), not
        # DOUBLE)
        # with FROM, unassigned target columns must be alias-qualified:
        # the join output may carry same-named source columns
        ref = (lambda c: F.col(f"{target_alias}.{c}")) \
            if from_df is not None and target_alias else F.col
        updated = matched.select(*(
            [(F.expr(assignments[c]) if isinstance(assignments[c], str)
              else assignments[c]).cast(types[c]).alias(c)
             if c in assignments else ref(c).alias(c)
             for c in data_cols]
            + ([ref("rowid").alias("rowid")] if keep_rowids else [])))
        if inl_ids:
            # updated versions of the matched inlined rows append through
            # the normal parquet path; with keep_rowids their ORIGINAL
            # inlined rowids ride along, else fresh ids; the old inlined
            # rows MVCC-end in the same snapshot either way
            inl_updated = inl.select(*(
                [(F.expr(assignments[c]) if isinstance(assignments[c], str)
                  else assignments[c]).cast(types[c]).alias(c)
                 if c in assignments else F.col(c).alias(c)
                 for c in data_cols]
                + ([F.col("rowid")] if keep_rowids else [])))
            updated = updated.unionByName(inl_updated)
        n_matched, _ = _delete_and_append(
            session, handle, matched.select(FILE_COL, POS_COL), updated,
            append_only_if_matched=True, inlined_row_ids=inl_ids,
            rowid_in_file=keep_rowids)
        return n_matched
    finally:
        cached.unpersist()


def _filter_with_absent_side(df: DataFrame, pred: str, present_alias: str,
                             absent_schema, absent_alias: str) -> DataFrame:
    """Filter ``df`` (aliased ``present_alias``) with a MERGE clause
    predicate that may reference the ABSENT side's columns — upstream
    evaluates such references as NULL (a NOT MATCHED BY SOURCE predicate
    has no source row; a NOT MATCHED insert predicate has no target row),
    so comparisons against them come out not-TRUE and the action skips,
    rather than failing analysis (r7 ADVICE: we raised AnalysisException).

    The absent side is attached as ONE all-NULL struct column named
    after its alias, so ``src.v`` resolves as a struct-field access while
    unqualified names keep resolving to the present side alone — a
    cross-joined null relation would make every shared unqualified
    column (the merge keys, always) AMBIGUOUS instead. Pure projection:
    no join, no execution cost. A predicate naming a column that exists
    on neither side still raises — typos stay loud."""
    if absent_alias in df.columns:
        # a data column literally named like the alias would collide
        # with the struct: fall back to qualified-only resolution
        return df.alias(present_alias).filter(F.expr(pred))
    nulls = F.struct(*[F.lit(None).cast(f.dataType).alias(f.name)
                       for f in absent_schema.fields])
    return (df.alias(present_alias)
            .withColumn(absent_alias, nulls)
            .filter(F.expr(pred))
            .drop(absent_alias))


def merge_rows(session, target: str, source: DataFrame, on: list[str],
               when_matched_update: Optional[dict] = None,
               when_matched_delete: bool = False,
               when_not_matched_insert: "bool | dict" = True,
               when_matched_pred: Optional[str] = None,
               when_not_matched_pred: Optional[str] = None,
               when_matched_error: "bool | str" = False,
               by_source_delete: bool = False,
               by_source_pred: Optional[str] = None) -> dict:
    """MERGE INTO target USING source ON target.k = source.k ... —
    the corpus's merge shapes (sql/merge/, incl. the conditional /
    by-source forms of merge_into_tpch.test_slow and
    merge_partition.test:75-79). Matched target rows are deleted (and,
    for update, rewritten with the source's values); unmatched source
    rows are inserted. Exactly one of ``when_matched_update`` /
    ``when_matched_delete`` may act on matches; with neither, matches
    are left untouched.

    ``when_matched_update``: column -> SQL expr over the joined frame
    (target columns by name, source columns as ``src.<col>``), or the
    string "source" to take every source column wholesale.

    Conditional clauses (``WHEN ... AND <pred> THEN``):
    ``when_matched_pred`` gates the matched action (SQL predicate over
    the joined frame, ``tgt.``/``src.`` qualified); rows failing it stay
    untouched. ``when_not_matched_pred`` gates the insert (over the
    unmatched source rows, alias ``src``). ``when_matched_error`` raises
    MergeActionError before anything is written if any match (satisfying
    the given predicate, if it is a string) exists — WHEN MATCHED THEN
    ERROR. ``by_source_delete`` deletes target rows no source row joins
    to (WHEN NOT MATCHED BY SOURCE THEN DELETE), optionally gated by
    ``by_source_pred`` over the target columns. In NOT MATCHED
    predicates, references to the ABSENT side's columns (``src.`` in a
    BY SOURCE predicate, ``tgt.`` in an insert predicate) evaluate as
    NULL — the upstream engine's semantics (there is no row on that
    side) — so comparisons against them come out not-TRUE and the
    action skips; unknown columns still raise.

    Multiple source rows matching one target row are not detected (DuckDB
    raises; here the last-writer is undefined) — pre-aggregate the source
    if its keys are not unique. Returns {"updated": n, "deleted": n,
    "inserted": n}.
    """
    if when_matched_update is not None and when_matched_delete:
        raise InvalidConfig("merge: choose update OR delete for matches")
    handle = session.table_handle(target)
    _require_no_inlined(handle)
    data_cols = [c.column_name for c in handle.columns]
    for k in on:
        if k not in data_cols:
            raise InvalidConfig(f"merge: key {k!r} not in target columns")
        if k not in source.columns:
            raise InvalidConfig(f"merge: key {k!r} not in source columns")

    # MERGE's update half keeps rowids like plain UPDATE (stable-rowid
    # contract); its insert half appends separately with fresh ids
    keep_rowids = when_matched_update is not None \
        and rowids_preservable(handle)
    live = _live_with_filepos(session, handle, with_rowid=keep_rowids)
    # Persist source and the joined match set: the source feeds two
    # structurally distinct joins (inner match + left-anti insert probe)
    # and the match set feeds both DML halves — caching bounds each to
    # ONE execution; counts come from the write manifests, never from
    # extra .count() actions over the join.
    src = source.persist().alias("src")
    joined = live.alias("tgt").join(
        src, [F.col(f"tgt.{k}") == F.col(f"src.{k}") for k in on],
        "inner").persist()
    bs_pos = None
    try:
        if when_matched_error:
            # WHEN MATCHED [AND pred] THEN ERROR: probe BEFORE any write
            # so a triggering merge leaves no snapshot behind. One extra
            # bounded action over the already-persisted match set.
            probe = joined
            if isinstance(when_matched_error, str):
                probe = probe.filter(F.expr(when_matched_error))
            hit = probe.limit(1).count()
            if hit:
                raise MergeActionError(
                    f"MERGE INTO {target}: WHEN MATCHED THEN ERROR — "
                    "a source row matched an existing target row")
        counts = {"updated": 0, "deleted": 0, "inserted": 0}
        acted = joined if when_matched_pred is None \
            else joined.filter(F.expr(when_matched_pred))
        matched_pos = acted.select(F.col(f"tgt.{FILE_COL}").alias(FILE_COL),
                                   F.col(f"tgt.{POS_COL}").alias(POS_COL))
        appended, fresh = None, None
        if when_matched_update == "source":
            when_matched_update = {c: f"src.{c}" for c in data_cols
                                   if c in source.columns and c not in on}
        types = {f.name: f.dataType for f in handle.spark_schema.fields}
        update_mode = when_matched_update is not None
        if update_mode:
            rewritten = acted.select(*(
                [(F.expr(when_matched_update[c])
                  if isinstance(when_matched_update[c], str)
                  else when_matched_update[c]).cast(types[c]).alias(c)
                 if c in when_matched_update else F.col(f"tgt.{c}")
                 for c in data_cols]
                + ([F.col("tgt.rowid").alias("rowid")]
                   if keep_rowids else [])))
            appended = rewritten
        elif not when_matched_delete:
            matched_pos = matched_pos.limit(0)

        n_by_source = 0
        if by_source_delete:
            # WHEN NOT MATCHED BY SOURCE THEN DELETE: target rows no
            # source row joins to. Counted explicitly (one action over an
            # anti-join of the persisted source) so the manifest total can
            # split into matched-action vs by-source deletions.
            bs = live.alias("tgt").join(
                src, [F.col(f"tgt.{k}") == F.col(f"src.{k}") for k in on],
                "left_anti")
            if by_source_pred is not None:
                # src.<col> refs evaluate as NULL here (no source row)
                bs = _filter_with_absent_side(
                    bs, by_source_pred, "tgt", source.schema, "src")
            bs_pos = bs.select(FILE_COL, POS_COL).persist()
            n_by_source = bs_pos.count()
            matched_pos = matched_pos.unionByName(bs_pos)

        if when_not_matched_insert:
            unmatched = src.join(live.select(*on), on, "left_anti")
            if when_not_matched_pred is not None:
                # tgt.<col> refs evaluate as NULL here (no target row)
                unmatched = _filter_with_absent_side(
                    unmatched, when_not_matched_pred, "src",
                    handle.spark_schema, "tgt")
            if isinstance(when_not_matched_insert, dict):
                # INSERT (cols) VALUES (exprs) — exprs over src.<col>;
                # unnamed target columns take NULL (merge corpus shape)
                fresh = unmatched.alias("src").select(*[
                    (F.expr(when_not_matched_insert[c])
                     if c in when_not_matched_insert
                     else F.lit(None)).cast(types[c]).alias(c)
                    for c in data_cols])
            else:
                missing = [c for c in data_cols if c not in source.columns]
                if missing:
                    raise InvalidConfig(
                        f"merge insert: source lacks target columns "
                        f"{missing}")
                fresh = unmatched.select(
                    *[F.col(c).cast(types[c]).alias(c) for c in data_cols])
            if appended is None or not keep_rowids:
                appended = fresh if appended is None \
                    else appended.unionByName(fresh)
                fresh = None

        n_matched, n_append = _delete_and_append(
            session, handle, matched_pos, appended,
            rowid_in_file=keep_rowids,
            appended_fresh=fresh if keep_rowids else None)
        # updated rows re-append 1:1 with matched positions, so the
        # append total splits into (updated = matched) + inserts
        if update_mode:
            counts["updated"] = n_matched - n_by_source
            counts["deleted"] = n_by_source
            counts["inserted"] = n_append - counts["updated"]
        else:
            if when_matched_delete:
                counts["deleted"] = n_matched
            else:
                counts["deleted"] = n_by_source
            counts["inserted"] = n_append
        return counts
    finally:
        if bs_pos is not None:
            bs_pos.unpersist()
        joined.unpersist()
        src.unpersist()


def _delete_and_append(session, handle, matched_pos: DataFrame,
                       appended: Optional[DataFrame],
                       append_only_if_matched: bool = False,
                       inlined_row_ids: Optional[list] = None,
                       rowid_in_file: bool = False,
                       appended_fresh: Optional[DataFrame] = None
                       ) -> tuple[int, int]:
    """Shared tail: write cumulative delete files for the matched
    positions, stage the rewritten/new rows, then commit everything in
    ONE catalog transaction — the snapshot, every delete registration,
    the ended inlined rows and every data file — and refresh the
    session. A conflict on any touched file rolls all of it back.
    Returns (matched, appended) counts.

    Single-execution discipline: counts come from the write artifacts —
    the delete manifest's new_count and the staged files' footer counts —
    so the match join / live scan never runs extra .count() actions. Each
    touched file's existing positions come from its driver-held deletion
    vector, not from a scan of the delete files. ``append_only_if_matched``
    (UPDATE) skips staging when the manifest shows zero matches, since
    its append derives from the matched rows."""
    settings = session.provider.settings()
    target = target_of(session, handle)
    manifest = _write_delete_parquets(
        session.spark, matched_pos,
        deletion_vectors(session.spark,
                         {f.data_uri: f for f in handle.files}),
        handle.table_path,
        encrypt=(settings.get("encrypted") or "").lower() in ("true", "1"),
        options=_delete_file_options(settings, target))
    n_matched = sum(int(r["new_count"]) for r in manifest) \
        + len(inlined_row_ids or [])

    staged = []
    if appended is not None and (n_matched > 0 or not append_only_if_matched):
        staged = stage_files(session, target, appended,
                             include_rowid=rowid_in_file, settings=settings)
    if appended_fresh is not None:
        # MERGE's insert half: fresh rows in their own files so the
        # update half's rowid-column files stay pure (every row of a
        # rowid-column file must carry an id)
        staged += stage_files(session, target, appended_fresh,
                              settings=settings)
    n_append = sum(f.rows for f in staged)

    if n_matched == 0 and n_append == 0:
        return 0, 0                    # no snapshot for a no-op DML
    tid = handle.meta.table_id
    labels = ([f"deleted_from_table:{tid}"] if n_matched else []) + \
             ([f"inserted_into_table:{tid}"] if n_append else [])
    writer = _catalog_writer(session, settings)
    try:
        with writer._txn():
            snapshot_id = writer.create_snapshot(labels)
            _register_deletes(writer, handle, snapshot_id, manifest)
            if inlined_row_ids:
                # matched inlined rows MVCC-end in the same snapshot (sql/
                # data_inlining/data_inlining_delete.test: DML addresses
                # inlined rows directly, no flush)
                writer.delete_inlined_rows(tid, snapshot_id,
                                           inlined_row_ids)
            register_files(writer, snapshot_id, target, staged)
    finally:
        writer.close()
    session.refresh(settings)
    return n_matched, n_append
