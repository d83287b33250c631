"""Snapshot expiry + old-file cleanup (ducklake_expire_snapshots /
ducklake_cleanup_old_files parity; corpus: cleanup/, remove_orphans/)."""

from __future__ import annotations

import os
from collections import OrderedDict

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    session = DuckLakeSession(spark, db)
    session.create_table("main.m", spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id INT, v DOUBLE"))
    return session


def _parquet_count(dl):
    n = 0
    for root, _d, files in os.walk(
            os.path.dirname(dl.catalog_path)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_expire_then_cleanup_removes_superseded_files(dl):
    dl.delete_from("main.m", "id < 5")
    dl.compact("main.m")                  # supersedes data + delete files
    before_disk = _parquet_count(dl)
    assert before_disk >= 3               # original + delete + compacted

    snaps_before = len(dl.provider.list_snapshots())
    assert snaps_before >= 3
    n = dl.expire_snapshots()             # keep only the latest
    assert n == snaps_before - 1
    assert len(dl.provider.list_snapshots()) == 1

    live = sorted(r["id"] for r in dl.table("main.m").collect())
    removed = dl.cleanup_old_files()
    assert len(removed) >= 2              # superseded data + delete file
    for p in removed:
        assert not os.path.exists(p)
    # current state unaffected
    assert sorted(r["id"] for r in dl.table("main.m").collect()) == live
    assert live == list(range(5, 20))


def test_cleanup_dry_run_deletes_nothing(dl):
    dl.insert_into("main.m", dl.spark.createDataFrame(
        [(100, 1.0)], "id INT, v DOUBLE"), overwrite=True)
    dl.expire_snapshots()
    candidates = dl.cleanup_old_files(dry_run=True)
    assert candidates
    for p in candidates:
        assert os.path.exists(p)


def test_expire_keeps_latest_and_time_travel_to_it(dl):
    cur = dl.provider.get_current_snapshot()
    dl.expire_snapshots()
    assert dl.provider.get_current_snapshot() == cur
    pinned = DuckLakeSession(dl.spark, dl.catalog_path, snapshot_id=cur)
    assert len(pinned.table("main.m").collect()) == 20


def test_expire_with_cutoff(dl):
    dl.insert_into("main.m", dl.spark.createDataFrame(
        [(200, 2.0)], "id INT, v DOUBLE"))
    snaps = [s.snapshot_id for s in dl.provider.list_snapshots()]
    cutoff = snaps[-2]
    dl.expire_snapshots(before=cutoff)
    left = [s.snapshot_id for s in dl.provider.list_snapshots()]
    assert left == [s for s in snaps if s >= cutoff]


def test_expire_inside_transaction_rejected(dl):
    dl.begin_transaction()
    try:
        with pytest.raises(InvalidConfig, match="transaction"):
            dl.expire_snapshots()
    finally:
        dl.commit()


def test_cleanup_noop_when_nothing_expired(dl):
    assert dl.cleanup_old_files() == []


def test_cleanup_sweeps_expired_inlined_rows(spark, tmp_path):
    from datafusion_ducklake_spark.catalog import DuckLakeSession as DLS
    db = str(tmp_path / "i.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "ilake"))
    w.close()
    dl = DLS(spark, db)
    dl.create_table("main.i", spark.createDataFrame(
        [(1,)], "id INT"))
    dl.set_option("data_inlining_row_limit", 10)
    dl.insert_into("main.i", spark.createDataFrame([(2,)], "id INT"))
    dl.flush_inlined_data("main.i")       # ends the inlined row
    dl.expire_snapshots()
    dl.cleanup_old_files()
    import sqlite3
    con = sqlite3.connect(db)
    tid = dl.table_handle("main.i").meta.table_id
    left = con.execute(
        f"SELECT COUNT(*) FROM ducklake_inlined_data_{tid}_0").fetchone()[0]
    con.close()
    assert left == 0                       # expired inlined row swept
    assert sorted(r["id"] for r in dl.table("main.i").collect()) == [1, 2]


# --- selective rewrite (sql/rewrite_data_files/ corpus) -------------------

def test_rewrite_data_files_leaves_clean_files_untouched(spark, tmp_path):
    db = str(tmp_path / "rw.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.rw", spark.createDataFrame(
        [(i, "a") for i in range(10)], "id INT, tag STRING"))
    dl.insert_into("main.rw", spark.createDataFrame(
        [(i, "b") for i in range(10, 20)], "id INT, tag STRING"))
    dl.delete_from("main.rw", "id IN (2, 3, 4)")   # dirties file 1 only

    before = {f.data_file_id: f.path
              for f in dl.table_handle("main.rw")._raw_files}
    dirty_ids = {f.data_file_id
                 for f in dl.table_handle("main.rw")._raw_files
                 if f.delete_file is not None}
    assert len(dirty_ids) == 1

    n = dl.rewrite_data_files("main.rw")
    assert n == 7                                  # only survivors rewritten

    after = dl.table_handle("main.rw")._raw_files
    after_ids = {f.data_file_id: f.path for f in after}
    clean_id = next(i for i in before if i not in dirty_ids)
    # the clean file keeps its EXACT catalog registration
    assert after_ids[clean_id] == before[clean_id]
    # the dirty file is gone; no delete debt remains
    assert not (set(dirty_ids) & set(after_ids))
    assert all(f.delete_file is None for f in after)
    # rowids preserved: survivors keep pre-rewrite ids (holes at 2,3,4)
    rows = dl.table("main.rw", with_rowid=True).collect()
    assert sorted(r.rowid for r in rows) == [0, 1] + list(range(5, 20))
    assert sorted(r.id for r in rows) == [0, 1] + list(range(5, 20))


@pytest.mark.slow
def test_rewrite_data_files_delete_threshold(spark, tmp_path):
    """sql/rewrite_data_files/test_last_snapshot_rewrite: the
    delete-fraction gate — a file under the threshold keeps its
    registration and delete file; at/above it, the file rewrites. The
    gate reads catalog delete_count/record_count only (no file I/O)."""
    db = str(tmp_path / "rwt.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.rw", spark.createDataFrame(
        [(i,) for i in range(10)], "id INT"))
    dl.delete_from("main.rw", "id < 6")        # 0.6 deleted
    assert dl.rewrite_data_files("main.rw", delete_threshold=0.7) == 0
    assert sum(1 for f in dl.table_handle("main.rw")._raw_files
               if f.delete_file) == 1          # gated: debt stays
    assert dl.rewrite_data_files("main.rw", delete_threshold=0.5) == 4
    after = dl.table_handle("main.rw")._raw_files
    assert all(f.delete_file is None for f in after)
    rows = dl.table("main.rw", with_rowid=True).collect()
    assert sorted((r.rowid, r.id) for r in rows) == [
        (i, i) for i in range(6, 10)]
    # SQL surface: explicit arg > rewrite_delete_threshold option > 0.95
    with pytest.raises(InvalidConfig, match="between 0 and 1"):
        dl.sql("CALL ducklake_rewrite_data_files('rw', "
               "delete_threshold => 1.5)")
    with pytest.raises(InvalidConfig, match="between 0 and 1"):
        dl.set_option("rewrite_delete_threshold", "-0.2")
    dl.delete_from("main.rw", "id = 7")        # 0.25 of the new file
    dl.sql("CALL ducklake_rewrite_data_files('rw')")   # 0.95 default
    assert sum(1 for f in dl.table_handle("main.rw")._raw_files
               if f.delete_file) == 1
    dl.set_option("rewrite_delete_threshold", "0.2")
    dl.sql("CALL ducklake_rewrite_data_files('rw')")   # global applies
    assert all(f.delete_file is None
               for f in dl.table_handle("main.rw")._raw_files)
    assert sorted(r.id for r in dl.table("main.rw").collect()) == \
        [6, 8, 9]


def test_rewrite_data_files_noop_without_debt(spark, tmp_path):
    db = str(tmp_path / "rw2.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.c", spark.createDataFrame(
        [(1,), (2,)], "id INT"))
    snap_before = dl.provider.get_current_snapshot()
    assert dl.rewrite_data_files("main.c") == 0
    assert dl.provider.get_current_snapshot() == snap_before


@pytest.mark.slow
def test_merge_adjacent_respects_target_file_size(spark, tmp_path):
    # sql/compaction/compaction_size_limit.test: files pack into groups
    # of <= target_file_size; each group becomes one output file; a
    # group that is a single clean file keeps its registration
    db = str(tmp_path / "tsz.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame(
        [(i, "x" * 50) for i in range(200)], "id INT, pad STRING"))
    for k in range(4):
        dl.insert_into("main.t", spark.createDataFrame(
            [(1000 * (k + 1) + i, "y" * 50) for i in range(200)],
            "id INT, pad STRING"))
    sizes = [f.file_size_bytes
             for f in dl.table_handle("main.t")._raw_files]
    assert len(sizes) == 5
    per_file = max(sizes)
    # target fits two files per group -> 5 files pack into 3 groups
    dl.set_option("target_file_size", str(per_file * 2 + 100))
    assert dl.merge_adjacent_files() == 1
    after = dl.table_handle("main.t")._raw_files
    assert len(after) == 3
    # rowids survive and all rows are present
    rows = dl.table("main.t", with_rowid=True).collect()
    assert sorted(r.rowid for r in rows) == list(range(1000))
    assert len({r.id for r in rows}) == 1000
    # a second merge with the same target is a no-op: every group is a
    # single clean file now, so registrations stay identical
    before_ids = {f.data_file_id for f in after}
    assert dl.merge_adjacent_files() == 0
    assert {f.data_file_id
            for f in dl.table_handle("main.t")._raw_files} == before_ids


def test_compact_and_merge_keep_rowids_on_their_rows(spark, tmp_path):
    """compact and merge_adjacent_files rewrite files keeping every
    row's rowid: the rewrite's write order must not permute them. Later
    files are larger, so the scan (largest file first) reads them out of
    rowid order."""
    db = str(tmp_path / "rid.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)

    def ids(lo, hi):
        return spark.createDataFrame(
            [(i,) for i in range(lo, hi)], "id INT").coalesce(1)

    def id_rowid(name):
        return sorted((r.id, r.rowid) for r in
                      dl.table(name, with_rowid=True).collect())

    dl.create_table("main.evs", ids(0, 5))
    dl.insert_into("main.evs", ids(5, 50))
    dl.compact("main.evs")
    assert len(dl.table_handle("main.evs").files) == 1
    assert id_rowid("main.evs") == [(i, i) for i in range(50)]

    dl.create_table("main.m3", ids(0, 5))
    dl.insert_into("main.m3", ids(5, 50))
    dl.insert_into("main.m3", ids(50, 500))
    assert dl.merge_adjacent_files() == 1
    assert len(dl.table_handle("main.m3").files) == 1
    assert id_rowid("main.m3") == [(i, i) for i in range(500)]


def test_merge_adjacent_preserves_partition_values(spark, tmp_path):
    # maintenance over a partitioned table: files merge only within one
    # partition-value tuple and rewritten files keep exact pruning values
    db = str(tmp_path / "pmv.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.sql("CREATE TABLE pt (pk INTEGER, v INTEGER)")
    dl.sql("ALTER TABLE pt SET PARTITIONED BY (pk)")
    for k in range(2):   # two inserts -> two files per partition value
        dl.insert_into("main.pt", spark.createDataFrame(
            [(1, 10 + k), (1, 100 + k), (2, 20 + k)], "pk INT, v INT"))
    handle = dl.table_handle("main.pt")
    assert len(handle.files) == 4
    # the per-partition files interleave rowids (insert order): the
    # upstream non-adjacent contract still packs them per partition
    # VALUE — one output per value, never across values — with rowids
    # and per-row snapshot_ids preserved in-file (row_id_start NULL)
    assert dl.merge_adjacent_files() == 1
    after = dl.table_handle("main.pt")
    assert len(after._raw_files) == 2
    assert all(f.row_id_start is None for f in after._raw_files)
    pv = dl.provider.get_file_partition_values(after.meta.table_id)
    vals = sorted(pv[f.data_file_id][0] for f in after._raw_files)
    assert vals == ["1", "2"]       # exact pruning values survive
    virt = dl.table("main.pt", with_virtual=True)
    rows = sorted((r.rowid, r.pk, r.v) for r in virt.collect())
    assert rows == [(0, 1, 10), (1, 1, 100), (2, 2, 20),
                    (3, 1, 11), (4, 1, 101), (5, 2, 21)]
    assert virt.select("snapshot_id").distinct().count() == 2

    # a selective rewrite of a dirtied partition file carries its exact
    # partition value to the rewritten file (pruning survives)
    dl.delete_from("main.pt", "pk = 1 AND v = 10")
    dl.rewrite_data_files("main.pt")
    after = dl.table_handle("main.pt")
    pv = dl.provider.get_file_partition_values(after.meta.table_id)
    live = [f.data_file_id for f in after._raw_files]
    vals = sorted(pv[fid][0] for fid in live)
    assert len(live) == 2 and vals == ["1", "2"]
    rows = sorted((r.pk, r.v) for r in dl.table("main.pt").collect())
    assert rows == [(1, 11), (1, 100), (1, 101),
                    (2, 20), (2, 21)]


@pytest.mark.slow
def test_compact_million_deleted_positions_stays_off_driver(spark, tmp_path,
                                                           monkeypatch):
    """r3 VERDICT wrongness #3 'done' gate: compact a table whose delete
    file holds >=1M positions. Run discovery reads the delete file once,
    through ``deletion_vector`` (the rewrite's scan reuses that vector),
    the driver only ever sees the merged run manifest (2 runs here), and
    rowids survive the rewrite."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    from datafusion_ducklake_spark.table_writer import _live_runs

    db = str(tmp_path / "big.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    n, hole_lo, hole_hi = 1_300_000, 100_000, 1_150_000
    dl.create_table("main.big", spark.range(n).selectExpr(
        "CAST(id AS BIGINT) AS id", "CAST(id % 97 AS BIGINT) AS v"))
    dl.delete_from("main.big", f"id >= {hole_lo} AND id < {hole_hi}")

    handle = dl.table_handle("main.big")
    assert sum(f.delete_file.delete_count
               for f in handle._raw_files if f.delete_file) >= 1_000_000

    # the delete file is read once, by deletion_vector's pyarrow read, and
    # never handed to a Spark reader
    reads, spark_reads = [], []
    real_pf, real_parquet = pq.ParquetFile, DataFrameReader.parquet
    monkeypatch.setattr(pq, "ParquetFile", lambda path, *a, **k: (
        reads.append(path), real_pf(path, *a, **k))[1])
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *paths, **k: (
        spark_reads.extend(paths), real_parquet(self, *paths, **k))[1])
    from datafusion_ducklake_spark.sources import scan
    monkeypatch.setattr(scan, "_DELETION_VECTORS", OrderedDict())

    # the driver-side manifest is exactly the merged islands
    pairs = list(zip(handle._raw_files, handle.files))
    runs = [(s, c) for _g, s, c in _live_runs(dl, [pairs], cap=256)]
    assert runs == [(0, hole_lo), (hole_hi, n - hole_hi)]

    dl.compact("main.big")
    dels = [rf.delete_uri for rf in handle.files if rf.delete_uri]
    assert len([p for p in reads if "ducklake-delete-" in p]) == len(dels)
    assert not [p for p in spark_reads if "ducklake-delete-" in str(p)]
    after = dl.table_handle("main.big")
    assert all(f.delete_file is None for f in after._raw_files)
    assert sorted((f.row_id_start, f.record_count)
                  for f in after._raw_files) == runs
    # rowid == id by construction; spot-check both hole edges survive
    rows = dl.table("main.big", with_rowid=True) \
        .filter(f"id IN ({hole_lo - 1}, {hole_hi})").collect()
    assert sorted((r.id, r.rowid) for r in rows) == [
        (hole_lo - 1, hole_lo - 1), (hole_hi, hole_hi)]
    assert dl.table("main.big").count() == n - (hole_hi - hole_lo)


def _rowid_pairs(dl, name):
    return sorted((r.id, r.rowid)
                  for r in dl.table(name, with_rowid=True).collect())


def _register_foreign_delete(dl, name, raw, positions, fname):
    """Register ``positions`` of data file ``raw`` as a delete file named
    ``fname``, as a foreign writer would."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    handle = dl.table_handle(name)
    dest = os.path.join(handle.table_path, fname)
    pq.write_table(pa.table({
        "file_path": pa.array([raw.path] * len(positions)),
        "pos": pa.array(positions, pa.int64())}), dest)
    w = CatalogWriter.sqlite(dl.catalog_path)
    try:
        sid = w.create_snapshot()
        w.register_delete_file(handle.meta.table_id, raw.data_file_id, sid,
                               fname, True, os.path.getsize(dest),
                               len(positions))
    finally:
        w.close()
    dl.refresh()


@pytest.mark.parametrize("op", ["compact", "rewrite_data_files"])
def test_rewrite_reads_url_encoded_delete_file(spark, tmp_path, op):
    """A delete file whose name Spark reports URL-encoded still defines
    the survivors: every live (id, rowid) pair survives the rewrite."""
    import uuid
    dl = DuckLakeSession(spark, _fresh_catalog(tmp_path))
    dl.create_table("main.u", spark.createDataFrame(
        [(i,) for i in range(8)], "id BIGINT"))
    raw = dl.table_handle("main.u")._raw_files[0]
    _register_foreign_delete(dl, "main.u", raw, [1, 5],
                             f"del 1%-{uuid.uuid4()}.parquet")
    live = _rowid_pairs(dl, "main.u")
    assert [i for i, _r in live] == [0, 2, 3, 4, 6, 7]
    assert getattr(dl, op)("main.u") == 6
    assert all(f.delete_file is None
               for f in dl.table_handle("main.u")._raw_files)
    assert _rowid_pairs(dl, "main.u") == live


def test_compact_same_basename_in_two_directories(spark, tmp_path):
    """Two add_files'd ``x.parquet`` in different directories keep their
    own deletions through compaction: every live (id, rowid) pair
    survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    dl = DuckLakeSession(spark, _fresh_catalog(tmp_path))
    dl.create_empty_table("main.af", "id BIGINT")
    for sub, ids in (("a", range(4)), ("b", range(10, 14))):
        path = tmp_path / sub / "x.parquet"
        os.makedirs(path.parent)
        pq.write_table(pa.table({"id": pa.array(list(ids), pa.int64())}),
                       path)
        dl.add_files("main.af", [str(path)])
        dl.refresh()
    assert dl.delete_from("main.af", "id = 11") == 1
    live = _rowid_pairs(dl, "main.af")
    assert [i for i, _r in live] == [0, 1, 2, 3, 10, 12, 13]
    assert dl.compact("main.af") == 7
    assert _rowid_pairs(dl, "main.af") == live


def _fresh_catalog(tmp_path) -> str:
    db = str(tmp_path / "c.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    return db


@pytest.mark.parametrize("path", ["runs", "rowid_in_file"])
def test_failed_compact_staging_keeps_every_row(dl, monkeypatch, path):
    """Staging fails mid-compact: nothing was committed, so a session
    opened at head still reads every row with its rowid."""
    from datafusion_ducklake_spark import table_writer
    dl.delete_from("main.m", "id IN (3, 4, 12)")
    if path == "rowid_in_file":
        dl.update_where("main.m", {"v": "v + 1"}, "id < 10")

    def boom(*_a, **_k):
        raise RuntimeError("staging failed")
    if path == "runs":
        monkeypatch.setattr(table_writer, "_finalize_compact_runs", boom)
    else:
        monkeypatch.setattr(table_writer, "stage_files", boom)
    live = _rowid_pairs(dl, "main.m")
    with pytest.raises(RuntimeError, match="staging failed"):
        dl.compact("main.m")
    head = DuckLakeSession(dl.spark, dl.catalog_path)
    assert _rowid_pairs(head, "main.m") == live
    assert len(live) == 17


def test_compact_run_count_mismatch_raises_before_commit(dl, monkeypatch):
    """A staged run whose row count disagrees with the run it was meant
    to hold raises CatalogCorruption — under ``python -O`` too — and
    nothing is registered."""
    from datafusion_ducklake_spark import table_writer
    from datafusion_ducklake_spark.errors import CatalogCorruption
    dl.delete_from("main.m", "id = 5")
    real = table_writer._live_runs

    def over_count(*args, **kwargs):
        (g, s, c), *rest = real(*args, **kwargs)
        return [(g, s, c + 1), *rest]
    monkeypatch.setattr(table_writer, "_live_runs", over_count)
    live = _rowid_pairs(dl, "main.m")
    files = sorted(f.data_file_id for f in dl.table_handle("main.m")
                   ._raw_files)
    with pytest.raises(CatalogCorruption, match="expected one file of 6"):
        dl.compact("main.m")
    head = DuckLakeSession(dl.spark, dl.catalog_path)
    assert _rowid_pairs(head, "main.m") == live
    assert sorted(f.data_file_id for f in head.table_handle("main.m")
                  ._raw_files) == files


def test_compact_refuses_file_without_record_count(dl):
    """A started file whose catalog row has no record_count cannot be
    cut into rowid runs: compact refuses instead of dropping its rows."""
    import sqlite3
    dl.delete_from("main.m", "id = 5")
    con = sqlite3.connect(dl.catalog_path)
    con.execute("UPDATE ducklake_data_file SET record_count = NULL")
    con.commit()
    con.close()
    head = DuckLakeSession(dl.spark, dl.catalog_path)
    live = _rowid_pairs(head, "main.m")
    assert len(live) == 19
    with pytest.raises(InvalidConfig, match="record_count"):
        head.compact("main.m")
    assert _rowid_pairs(DuckLakeSession(dl.spark, dl.catalog_path),
                        "main.m") == live


def test_compact_shatter_refusal_collects_bounded_manifest(spark, tmp_path):
    """A modulo-shattered table refuses rowid-preserving compaction; the
    driver-side manifest stays capped at max_runs+1 rows even though the
    table has thousands of islands."""
    db = str(tmp_path / "shat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.s", spark.range(40_000).selectExpr(
        "CAST(id AS BIGINT) AS id"))
    dl.delete_from("main.s", "id % 4 = 0")        # 10k islands of 3
    with pytest.raises(InvalidConfig, match="more than 256"):
        dl.compact("main.s")
    # the same table compacts fine when renumbering is allowed
    dl.compact("main.s", preserve_rowids=False)
    assert dl.table("main.s").count() == 30_000


def test_rowids_not_reused_after_cleanup_purges_started_files(dl):
    """ADVICE r5 (high): UPDATE outputs register with row_id_start NULL
    and carry rowids in-file. Once expire+cleanup purge the catalog rows
    of the ORIGINAL started files, a naive next_row_id (MAX over started
    files only) collapses to 0 and the next INSERT re-issues rowids that
    still exist in-file — duplicate rowids break rowid-targeted DML, CDC
    update pairing, and streaming exactly-once. The persisted
    ducklake_table_stats.next_row_id high-water mark must survive."""
    dl.update_where("main.m", {"v": "v + 1000"}, "id >= 0")  # all rows
    dl.compact("main.m")    # ENDS the started originals; the compacted
    #                         output carries rowids in-file (NULL start)
    rid_after = {r["rowid"] for r in
                 dl.table("main.m", with_rowid=True).collect()}
    assert rid_after == set(range(20))

    dl.expire_snapshots()
    dl.cleanup_old_files()   # purges the expired started files' rows

    dl.insert_into("main.m", dl.spark.createDataFrame(
        [(100 + i, 0.5) for i in range(5)], "id INT, v DOUBLE"))
    rows = dl.table("main.m", with_rowid=True).collect()
    rids = [r["rowid"] for r in rows]
    assert len(rids) == len(set(rids)) == 25   # no duplicate rowids
    assert min(r["rowid"] for r in rows if r["id"] >= 100) >= 20

    # rowid-keyed DML stays precise after the re-insert (the concrete
    # breakage mode was an UPDATE pairing old and new rows sharing an id)
    dl.update_where("main.m", {"v": "-1.0"}, "id = 100")
    after = dl.table("main.m", with_rowid=True).collect()
    assert len(after) == 25
    assert len({r["rowid"] for r in after}) == 25
    assert [r["v"] for r in after if r["id"] == 100] == [-1.0]


def test_cleanup_drops_rows_per_file_despite_retained_young(dl, tmp_path):
    """ADVICE r5 (low): a pass that retains SOME young files must still
    drop the catalog rows of the files it DID delete — the old
    all-or-nothing sweep left them listed, double-reported them in later
    passes, and their stats rows lingered."""
    import sqlite3
    import time as _time
    dl.insert_into("main.m", dl.spark.createDataFrame(
        [(50, 5.0)], "id INT, v DOUBLE"))
    dl.insert_into("main.m", dl.spark.createDataFrame(
        [(60, 6.0)], "id INT, v DOUBLE"), overwrite=True)
    dl.expire_snapshots()          # all three pre-overwrite files expired

    # age ONE expired file past the retention window; keep others young
    dl.set_option("delete_older_than", "1 hour")
    doomed = dl.cleanup_old_files(dry_run=True, cleanup_all=True)
    assert len(doomed) >= 2
    old_one = doomed[0]
    local = old_one[len("file://"):] if old_one.startswith("file://") \
        else old_one
    past = _time.time() - 7200
    os.utime(local, (past, past))

    removed = dl.cleanup_old_files()
    assert removed == [old_one]    # only the aged file went

    # its catalog row is GONE: a second pass neither re-lists nor
    # re-reports it
    again = dl.cleanup_old_files(dry_run=True, cleanup_all=True)
    assert old_one not in again
    assert len(again) == len(doomed) - 1

    con = sqlite3.connect(dl.catalog_path)
    base = os.path.basename(local)
    rows = con.execute(
        "SELECT COUNT(*) FROM ducklake_data_file WHERE path LIKE ?",
        (f"%{base}",)).fetchall()
    assert rows[0][0] == 0
    # no orphaned stats rows
    orphans = con.execute(
        "SELECT COUNT(*) FROM ducklake_file_column_stats WHERE "
        "data_file_id NOT IN (SELECT data_file_id FROM "
        "ducklake_data_file)").fetchall()
    assert orphans[0][0] == 0

    # the young files survive with rows intact and go in a full pass
    dl.set_option("delete_older_than", "")
    rest = dl.cleanup_old_files()
    assert sorted(rest) == sorted(again)


def test_overwrite_compact_preserves_representation_types(dl, spark):
    """compact(preserve_rowids=False) routes through the overwrite
    write; representation-typed columns (json here — stored as varchar
    physically, like uuid/geometry/nested time) must keep their
    declared catalog type instead of drifting to the frame's physical
    type."""
    dl.create_empty_table("main.j", "id INTEGER, payload JSON")
    dl.insert_into("main.j", spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"b": [2, 3]}')], "id INT, payload STRING"))
    dl.refresh()
    dl.compact("main.j", preserve_rowids=False)
    dl.refresh()
    cols = {c.column_name: c.column_type
            for c in dl.table_handle("main.j").columns}
    assert cols["payload"] == "json"
    got = sorted(r.payload for r in dl.table("main.j").collect())
    assert got == ['{"a": 1}', '{"b": [2, 3]}']
    # a REAL type change on overwrite still applies (int → varchar is
    # not representation-compatible)
    dl.insert_into("main.j", spark.createDataFrame(
        [("x", "y")], "id STRING, payload STRING"), overwrite=True)
    dl.refresh()
    cols = {c.column_name: c.column_type
            for c in dl.table_handle("main.j").columns}
    assert cols["id"] == "varchar"
    assert cols["payload"] == "json"


def test_overwrite_compact_preserves_defaults_and_not_null(dl, spark):
    """The same drift class, one field over: DEFAULT and NOT NULL must
    survive an overwrite compact of a type-unchanged column — and the
    restored NOT NULL is enforced against overwrite data."""
    from datafusion_ducklake_spark.errors import InvalidConfig
    dl.create_empty_table("main.c", "id INTEGER NOT NULL, v INTEGER DEFAULT 7")
    dl.insert_into("main.c", spark.createDataFrame(
        [(1, 10), (2, None)], "id INT, v INT"))
    dl.refresh()
    dl.compact("main.c", preserve_rowids=False)
    dl.refresh()
    cols = {c.column_name: c for c in dl.table_handle("main.c").columns}
    assert not cols["id"].nulls_allowed
    assert cols["v"].default_value == "7"
    # enforcement: an overwrite writing NULL into the kept NOT NULL
    # column fails loudly instead of silently recording a violated
    # constraint
    with pytest.raises(InvalidConfig, match="NOT NULL|NULL"):
        dl.insert_into("main.c", spark.createDataFrame(
            [(None, 1)], "id INT, v INT"), overwrite=True)


def test_add_files_ignores_extra_non_micro_time_column(dl, spark, tmp_path):
    """A non-µs TIME column that is an EXTRA column (never scanned under
    ignore_extra_columns) must not block registration — the unit gate
    applies only to leaves the table reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp_path / "legacy.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1, 2], pa.int32()),
        "ts": pa.array([1000, 2000], pa.time32("ms"))}), f)
    dl.create_empty_table("main.x", "k INTEGER")
    assert dl.add_files("main.x", [f], ignore_extra_columns=True) == 2
    assert sorted(r.k for r in dl.table("main.x").collect()) == [1, 2]


def test_run_path_compaction_keeps_each_rows_snapshot_id(spark, tmp_path):
    """compact and merge_adjacent_files rewrite contiguous rowid runs into
    files registered in the rewrite's snapshot; each row still reads the
    snapshot that inserted it, through any number of rewrites."""
    db = str(tmp_path / "snap.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.s", spark.range(0, 3).selectExpr("id"))
    dl.insert_into("main.s", spark.range(3, 6).selectExpr("id"))

    def snapshot_of():
        return {r.id: r.snapshot_id
                for r in dl.table("main.s", with_virtual=True).collect()}

    inserted = snapshot_of()
    assert len(set(inserted.values())) == 2
    dl.compact("main.s")
    files = dl.table_handle("main.s")._raw_files
    assert len(files) == 1 and files[0].row_id_start is not None
    assert snapshot_of() == inserted
    dl.insert_into("main.s", spark.range(6, 8).selectExpr("id"))
    inserted = snapshot_of()
    assert dl.merge_adjacent_files() >= 1
    assert len(dl.table_handle("main.s")._raw_files) == 1
    assert snapshot_of() == inserted
