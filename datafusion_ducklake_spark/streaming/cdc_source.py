"""Structured Streaming over DuckLake tables.

The reference is batch-only (SURVEY.md §2B: streaming = none); this is the
optional stretch it suggests — exposing ``ducklake_table_changes`` as a
stream. Three modes:

- ``stream_inserts`` (default, catalog-driven): a custom Python streaming
  source whose offsets are ROWID EXTENTS over ``ducklake_data_file``
  registrations. Each micro-batch reads the files whose rowid range is
  new; compaction rewrites PRESERVE rowids, so rewritten files fall below
  the offset and never re-emit — exactly-once per row without an
  append-only restriction.
- ``stream_inserts(mode="glob")``: the plain file-source fallback on the
  table's data directory (append-only tables only — superseded files
  left on disk would re-emit as duplicates; guarded via the catalog's
  ended-file count).
- ``replay_changes``: deterministic micro-batch replay of the CDC log via
  ``foreachBatch``-style iteration over snapshot ranges — for backfills
  and tests (``Trigger.AvailableNow`` semantics driven by the catalog's
  snapshot log instead of file mtimes).
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)


# Data files are ducklake-<uuid4>.parquet; delete files are
# ducklake-delete-<uuid4>.parquet. The first uuid4 group is 8 hex chars,
# and "delete-"'s third character ('l') is not hex — so this glob admits
# every data file and no positional-delete file.
_DATA_FILE_GLOB = ("ducklake-" + "[0-9a-f]" * 8 + "-*.parquet")


class _FileSlice(InputPartition):
    def __init__(self, uri: str, encryption_key: str | None = None,
                 min_rowid: int | None = None):
        self.uri = uri
        # stored-form PME footer key: ships inside the serialized
        # partition so the decrypt happens executor-side
        self.encryption_key = encryption_key
        # compaction output straddling the consumer's main watermark:
        # rows below min_rowid were already delivered by the (now ended)
        # originals — the read emits only rowid >= min_rowid
        self.min_rowid = min_rowid
        # main-axis variant (catalog-started file, rowid = start + row
        # position, no in-file column): skip the first N rows instead
        self.skip_rows = 0


_EXTENT_CACHE: dict[str, tuple] = {}


def _rowid_extent(uri: str, encryption_key: str | None) -> tuple:
    """(min, max) of the in-file rowid column — footer row-group stats
    for plain parquet (no data read), a bounded decrypt-read of just the
    rowid column for PME files (flush files are small by the inlining
    row-limit contract). Data files are immutable, so cache per path."""
    if uri in _EXTENT_CACHE:
        return _EXTENT_CACHE[uri]
    from ..sources.scan import ROWID_FILE_COL
    path = uri[len("file://"):] if uri.startswith("file://") else uri
    if encryption_key is not None:
        from ..sources.encryption import decode_key, read_encrypted_arrow
        col = read_encrypted_arrow(
            path, decode_key(encryption_key)).column(ROWID_FILE_COL)
        import pyarrow.compute as pc
        ext = (pc.min(col).as_py(), pc.max(col).as_py())
    else:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(ROWID_FILE_COL)
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                # stats absent: one bounded column read settles it
                import pyarrow.compute as pc
                col = pq.read_table(
                    path, columns=[ROWID_FILE_COL]).column(ROWID_FILE_COL)
                lo, hi = pc.min(col).as_py(), pc.max(col).as_py()
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        ext = (lo, hi)
    _EXTENT_CACHE[uri] = ext
    return ext


class _CatalogStreamReader(DataSourceStreamReader):
    """Rowid-extent offsets over ``ducklake_data_file``: a file is
    emitted iff its ``row_id_start`` lies in the unseen rowid range.
    ``next_row_id`` is monotone over ALL files ever registered, so new
    appends always land above the offset, while compaction rewrites
    (which preserve rowids) land below it and never re-emit. Offsets are
    {"rowid": n} — a plain JSON dict, restart-safe via the checkpoint."""

    def __init__(self, schema, options):
        self._schema = schema
        self._catalog_path = options["catalog_path"]
        self._table = options["table"]
        self._provider = None
        self._flush_snapshots = None

    def __getstate__(self):
        # the reader ships to executors for read(); the provider's DB
        # connection stays on the driver
        state = dict(self.__dict__)
        state["_provider"] = None
        return state

    def _handle(self):
        from ..catalog import DuckLakeSession
        from ..metadata.provider import provider_for
        if self._provider is None:
            self._provider = provider_for(self._catalog_path)
        # a fresh session view per call: new snapshots must be visible
        return DuckLakeSession(
            None, self._catalog_path,
            provider=self._provider).table_handle(self._table)

    # offset format version: 2 = flush axis keyed by registration
    # snapshot + delivered-tail high-water (round 6); 1 (implicit) keyed
    # the flush axis by min in-file rowid, which aliased across
    # compactions — the two are NOT interchangeable mid-checkpoint
    OFFSET_VERSION = 2

    def initialOffset(self) -> dict:
        return {"rowid": 0, "flush": 0, "tail": 0,
                "v": self.OFFSET_VERSION}

    def _placement(self, handle, f):
        """Where a file sits: ("rowid"|"flush", start, end_exclusive,
        guard_main, rowid_extent), or None for a file whose rows must
        NOT re-emit; guard_main marks compaction outputs whose rows may
        already have been delivered by their (now ended) originals.

        Files with catalog row_id_start ride the main rowid watermark.
        row_id_start NULL files carry their ids as the reserved in-file
        column and ride the "flush" axis, keyed by the file's
        REGISTRATION SNAPSHOT (monotone, never aliases — a min-rowid key
        would collide across successive compactions that both start at
        rowid 0); two kinds exist:
        - flushed inlined data (snapshot labeled flushed_inlined_data):
          its rows were never visible as a file before — EMIT whole.
        - UPDATE/MERGE rewrites whose ORIGINAL file is still live: the
          originals deliver these rowids — SKIP.
        - compaction outputs (originals ended): EMIT the undelivered
          tail (rowid >= the delivered high-water; see partitions).
        A NULL-start file with NO in-file rowid column (foreign
        add_files) keeps the targeted error."""
        from ..errors import InvalidConfig
        if f.row_id_start is not None:
            return ("rowid", f.row_id_start,
                    f.row_id_start + (f.record_count or 0), False, None)
        from ..sources.scan import file_has_rowid_column
        if not file_has_rowid_column(f.data_uri):
            raise InvalidConfig(
                f"catalog-driven streaming needs row_id_start (or the "
                f"in-file rowid column) for every data file of "
                f"{self._table} (foreign add_files tables: use "
                f"mode='glob' or replay_changes())")
        if self._flush_snapshots is None:
            from ..operators.cdc import labeled_snapshots
            begins = [g.begin_snapshot or 0 for g in handle.files]
            self._flush_snapshots = labeled_snapshots(
                self._provider, handle.meta.table_id, min(begins) - 1,
                max(begins), "flushed_inlined_data")
        lo, hi = _rowid_extent(f.data_uri, f.encryption_key)
        snap = int(f.begin_snapshot or 0)
        if f.begin_snapshot in self._flush_snapshots:
            # flushed inlined data: its rows were NEVER visible via the
            # main axis (inlined rows don't stream) — always deliverable
            return ("flush", snap, snap + 1, False, (lo, hi))
        covered = any(
            g.row_id_start is not None
            and g.row_id_start <= lo < g.row_id_start
            + (g.record_count or 0)
            for g in handle.files)
        if covered:
            # UPDATE/MERGE rewrite whose ORIGINAL file is still live:
            # the originals deliver these rowids — stay silent
            return None
        return ("flush", snap, snap + 1, True, (lo, hi))

    def latestOffset(self) -> dict:
        handle = self._handle()
        self._flush_snapshots = None     # fresh snapshot-label view
        top = {"rowid": 0, "flush": 0, "tail": 0,
               "v": self.OFFSET_VERSION}
        for f in handle.files:
            p = self._placement(handle, f)
            if p is not None:
                top[p[0]] = max(top[p[0]], p[2])
                if p[0] == "flush" and p[4] is not None:
                    # the delivered-rowid high-water after this batch:
                    # every flush-axis emission covers (up to) its max
                    # in-file rowid
                    top["tail"] = max(top["tail"], p[4][1] + 1)
        return top

    def partitions(self, start: dict, end: dict):
        """Residual caveat (narrowed, not closed): delivery state is
        reconstructed from three scalar offsets (main rowid watermark,
        flush snapshot watermark, delivered-tail rowid high-water). A
        maintenance op that folds an UNDELIVERED catalog-started file
        whose rowids lie below the delivered tail (possible only when a
        flush/compaction delivery above it happened in the SAME no-batch
        window) is indistinguishable from delivered — pause streams
        while running maintenance back-to-back with inserts to avoid
        that window."""
        if start.get("v", 1) < self.OFFSET_VERSION and start.get("flush"):
            from ..errors import InvalidConfig
            raise InvalidConfig(
                "this stream checkpoint was written by an older offset "
                "format (flush axis keyed by in-file rowid); reinterpreting "
                "it under the snapshot-keyed format could duplicate rows — "
                "restart the stream with a fresh checkpointLocation")
        handle = self._handle()
        self._flush_snapshots = None
        out = []
        for f in handle.files:
            p = self._placement(handle, f)
            if p is None:
                continue
            axis, lo, hi, guard_main, extent = p
            wm = start.get("rowid", 0)
            delivered = max(wm, start.get("tail", 0))
            if not (start.get(axis, 0) <= lo < end.get(axis, 0)):
                if not (axis == "rowid" and lo < wm < hi
                        <= end.get("rowid", 0)):
                    continue
                # catalog-started compaction output STRADDLING the main
                # watermark (lo < wm < hi): the head was delivered by the
                # ended originals, the tail was not — emit the tail by
                # skipping the delivered positions (rowid = lo + pos)
                sl = _FileSlice(f.data_uri, f.encryption_key)
                sl.skip_rows = wm - lo
                out.append(sl)
                continue
            min_rowid = None
            if guard_main:
                if extent is not None and extent[1] < delivered:
                    continue    # fully delivered (main axis or earlier
                    #             flush-axis tail)
                # emit only the undelivered tail: rows below the
                # delivered high-water came from the ended originals or
                # an earlier flush emission
                if extent is not None and extent[0] < delivered:
                    min_rowid = delivered
            out.append(_FileSlice(f.data_uri, f.encryption_key,
                                  min_rowid=min_rowid))
        return out or [_FileSlice("")]        # API requires >= 1 partition

    def read(self, partition: _FileSlice):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        if not partition.uri:
            return iter(())
        path = partition.uri
        if path.startswith("file://"):
            path = path[len("file://"):]
        target = to_arrow_schema(self._schema)
        if partition.encryption_key is not None:
            from ..sources.encryption import decode_key, read_encrypted_arrow
            table = read_encrypted_arrow(
                path, decode_key(partition.encryption_key))
        else:
            table = pq.read_table(path)
        if getattr(partition, "min_rowid", None) is not None:
            # straddling compaction output: the sub-watermark rows were
            # already delivered by the originals
            import pyarrow.compute as pc
            from ..sources.scan import ROWID_FILE_COL
            table = table.filter(
                pc.field(ROWID_FILE_COL) >= partition.min_rowid)
        if getattr(partition, "skip_rows", 0):
            # main-axis straddle: rowid = row_id_start + position, so the
            # delivered head is exactly the first skip_rows positions
            table = table.slice(partition.skip_rows)
        # INTERVAL columns arrive as fixed_size_binary[12]; decode to the
        # declared struct (pyarrow twin of the batch scan's decode)
        from ..sources.scan import decode_arrow_intervals
        table = decode_arrow_intervals(table.select(target.names), target)
        return iter(table.cast(target).to_batches())

    def commit(self, end: dict) -> None:
        pass


class DuckLakeInsertsDataSource(DataSource):
    """``spark.readStream.format("ducklake_inserts")`` — catalog-driven
    insert stream for DuckLake tables (registered by stream_inserts)."""

    @classmethod
    def name(cls) -> str:
        return "ducklake_inserts"

    def schema(self):
        from ..catalog import DuckLakeSession
        return DuckLakeSession(
            None, self.options["catalog_path"]).table_handle(
                self.options["table"]).spark_schema

    def streamReader(self, schema):
        return _CatalogStreamReader(schema, self.options)


def stream_inserts(session, name: str, mode: str = "catalog") -> DataFrame:
    """readStream of newly-added rows for a DuckLake table. Start with
    ``.trigger(availableNow=True)`` for catch-up semantics.

    ``mode="catalog"`` (default): file list driven by the catalog's
    ``ducklake_data_file`` registrations with rowid-extent offsets —
    exactly-once per row even across compaction/overwrite/UPDATE
    (rewrites preserve rowids: catalog-started rewrites land below the
    offset; rowid-in-file UPDATE rewrites are skipped since their rows'
    original file stays live). Inlined rows (data inlining) are
    invisible to the stream until flush_inlined_data migrates them to
    parquet — the flush file carries their ORIGINAL rowids in-file and
    streams exactly once, placed at its minimum rowid.

    ``mode="glob"``: plain Spark file source on the data directory.
    Append-only tables only: superseded files from overwrite/compaction
    stay on disk and would re-emit as duplicates, so tables with ended
    files are rejected (catalog guard); a table compacted mid-stream has
    the same hazard — inherent to directory-based file sources.
    """
    from ..errors import InvalidConfig

    table = session.table_handle(name)
    if mode == "catalog":
        session.spark.dataSource.register(DuckLakeInsertsDataSource)
        return (session.spark.readStream
                .format("ducklake_inserts")
                .option("catalog_path", session.catalog_path)
                .option("table", name)
                .load())
    ended = session.provider.count_ended_files(table.meta.table_id)
    if ended > 0:
        raise InvalidConfig(
            f"stream_inserts(mode='glob') requires an append-only table, "
            f"but {name} has {ended} removed data file(s) (overwrite/"
            f"compaction history); superseded files remain on disk and "
            f"would stream as duplicates — use the default catalog mode "
            f"or replay_changes() instead")
    schema = table.spark_schema
    return (session.spark.readStream
            .schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 8)
            .option("pathGlobFilter", _DATA_FILE_GLOB)
            .load(table.table_path + "/"))


def replay_changes(session, name: str, start: int, end: int,
                   batch_fn: Callable[[DataFrame, int], None],
                   step: int = 1) -> int:
    """Replay the FULL CDC feed (inserts + deletes + update image
    pairs — operators/cdc.table_changes) snapshot-by-snapshot: calls
    ``batch_fn(batch_df, snapshot_id)`` for each snapshot range chunk in
    (start, end], in commit order — the deterministic backfill path.
    Returns the number of non-empty batches delivered."""
    delivered = 0
    s = start
    while s < end:
        e = min(s + step, end)
        batch = session.table_changes(name, s, e)
        if batch.limit(1).count() > 0:
            batch_fn(batch, e)
            delivered += 1
        s = e
    return delivered
