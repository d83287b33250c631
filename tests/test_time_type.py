"""TIME column support via Spark 4's TimeType (µs precision — the same
unit as DuckDB TIME and the reference's Time64(µs), types.rs:46).

Pre-r8 the engine stored time as a bare int64 (µs of day), which DuckDB
read back as BIGINT — a silent interop break on the write side. With
TimeType the written parquet carries the TIME(µs) logical annotation, so
both engines agree in BOTH directions. TimeType is feature-flagged
(spark.sql.timeType.enabled), enabled at the engine's conf chokepoints:
DuckLakeSession init, the scan conf setup, and build_spark.
"""

from __future__ import annotations

import datetime
import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from datafusion_ducklake_spark.types import (
    ducklake_to_spark_type, spark_to_ducklake_type)

TIMES = [datetime.time(0, 0, 0), datetime.time(1, 2, 3, 4),
         datetime.time(12, 30, 0, 500000), None,
         datetime.time(23, 59, 59, 999999)]


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    return DuckLakeSession(spark, db)


def _time_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TIMES)],
        T.StructType([T.StructField("id", T.IntegerType(), False),
                      T.StructField("t", T.TimeType(), True)]))


def test_type_mapping_both_directions():
    assert ducklake_to_spark_type("time").spark_type == T.TimeType()
    assert ducklake_to_spark_type("time").lossless
    assert spark_to_ducklake_type(T.TimeType()) == "time"


def test_write_scan_roundtrip(dl, spark):
    dl.create_table("main.tt", _time_df(spark))
    cols = {c.column_name: c.column_type
            for c in dl.table_handle("main.tt").columns}
    assert cols["t"] == "time"
    got = {r.id: r.t for r in dl.table("main.tt").collect()}
    assert got == dict(enumerate(TIMES))


def test_written_parquet_reads_as_time_in_duckdb(dl, spark, tmp_path):
    """The on-disk contract: our file must carry the TIME(µs) logical
    type, not a bare int64."""
    dl.create_table("main.tt", _time_df(spark))
    files = glob.glob(str(tmp_path / "lake" / "main" / "tt" / "*.parquet"))
    assert files
    con = duckdb.connect()
    desc = {r[0]: r[1] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()}
    assert desc["t"] == "TIME"
    vals = con.execute(
        f"SELECT t FROM read_parquet({files!r}) ORDER BY id").fetchall()
    assert [v[0] for v in vals] == TIMES


def test_insert_append_and_sql(dl, spark):
    dl.create_table("main.tt", _time_df(spark))
    dl.insert_into("main.tt", spark.createDataFrame(
        [(99, datetime.time(6, 0, 0))],
        T.StructType([T.StructField("id", T.IntegerType(), False),
                      T.StructField("t", T.TimeType(), True)])))
    dl.refresh()
    n = dl.sql("SELECT COUNT(*) AS n FROM main.tt "
               "WHERE t >= TIME'06:00:00'").collect()[0]["n"]
    assert n == 3      # 12:30, 23:59:59.999999, 06:00


def test_add_files_duckdb_time_parquet(dl, tmp_path):
    data = str(tmp_path / "times.parquet")
    duckdb.connect().execute(f"""
        COPY (SELECT i::INT AS id,
                     (TIME '00:00:01' + INTERVAL (i * 1500) MILLISECOND)
                       ::TIME AS t
              FROM range(40) t2(i)) TO '{data}' (FORMAT PARQUET)""")
    dl.create_empty_table("main.ext", "id INTEGER, t TIME")
    assert dl.add_files("main.ext", [data]) == 40
    rows = {r.id: r.t for r in dl.table("main.ext").collect()}
    assert rows[0] == datetime.time(0, 0, 1)
    assert rows[1] == datetime.time(0, 0, 2, 500000)
    assert len(rows) == 40


def test_dml_over_time_table(dl, spark):
    dl.create_table("main.tt", _time_df(spark))
    assert dl.delete_from("main.tt", "t < TIME'02:00:00'") == 2
    dl.refresh()
    dl.update_where("main.tt", {"id": "id + 100"},
                    "t = TIME'12:30:00.5'")
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.tt").collect()}
    assert set(got) == {102, 3, 4}
    assert got[102] == datetime.time(12, 30, 0, 500000)


def test_min_max_group_order(dl, spark):
    dl.create_table("main.tt", _time_df(spark))
    r = dl.table("main.tt").agg(
        F.min("t").alias("lo"), F.max("t").alias("hi")).collect()[0]
    assert (r.lo, r.hi) == (TIMES[0], TIMES[4])
    ordered = [x.t for x in dl.table("main.tt").orderBy(
        F.col("t").asc_nulls_first()).collect()]
    assert ordered == [None] + sorted(t for t in TIMES if t is not None)


def test_inlined_time_rows_coerce(dl, spark):
    """A foreign catalog may inline time rows as text — the inlined-row
    frame must coerce them back to TimeType."""
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    dl.create_empty_table("main.inl", "id INTEGER, t TIME")
    handle = dl.table_handle("main.inl")
    w = _catalog_writer(dl)
    try:
        snap = w.create_snapshot(
            [f"inserted_into_table:{handle.meta.table_id}"])
        w.insert_inlined_rows(handle.meta.table_id, snap,
                              ["id", "t"], ["int32", "time"],
                              [(1, "04:05:06.000007"), (2, "23:00:00")])
    finally:
        w.close()
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.inl").collect()}
    assert got == {1: datetime.time(4, 5, 6, 7), 2: datetime.time(23, 0)}


def test_pre_r8_bare_int64_time_files_read_exactly(dl, spark, tmp_path):
    """Era-proof read: files written by the pre-r8 engine store time as
    a bare un-annotated int64 (µs of day). A native TimeType read of
    such a column silently interprets the values as NANOSECONDS (1000×
    too small) — the scan's uniform long-read + make_time conversion
    must return the exact original times for BOTH eras, mixed in one
    table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    old = str(tmp_path / "old_era.parquet")
    micros = [3600000000, 45296000007, None]     # 01:00, 12:34:56.000007
    pq.write_table(pa.table({
        "id": pa.array([0, 1, 2], pa.int32()),
        "t": pa.array(micros, pa.int64())}), old)
    dl.create_empty_table("main.era", "id INTEGER, t TIME")
    # registering the bare-int64 file mimics the pre-r8 on-disk state;
    # the old engine's own writes produced exactly this physical type
    from datafusion_ducklake_spark.metadata.writer import DataFileInfo
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    handle = dl.table_handle("main.era")
    w = _catalog_writer(dl)
    try:
        snap = w.create_snapshot(
            [f"inserted_into_table:{handle.meta.table_id}"])
        w.register_data_file(
            handle.meta.table_id, snap,
            DataFileInfo(old, False, os.path.getsize(old), None, 3,
                         row_id_start=0))
    finally:
        w.close()
    dl.refresh()
    # a post-r8 annotated file joins the same table via add_files
    new = str(tmp_path / "new_era.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 10::INT AS id, TIME '23:59:59.999999' AS t) "
        f"TO '{new}' (FORMAT PARQUET)")
    dl.add_files("main.era", [new])
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.era").collect()}
    assert got == {0: datetime.time(1, 0),
                   1: datetime.time(12, 34, 56, 7),
                   2: None,
                   10: datetime.time(23, 59, 59, 999999)}


def test_pre_r8_inlined_int_time_rows_coerce(dl, spark):
    """Pre-r8 catalogs inlined time values as µs-of-day ints; the
    inlined-row frame must coerce them, not crash createDataFrame."""
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    dl.create_empty_table("main.inl8", "id INTEGER, t TIME")
    handle = dl.table_handle("main.inl8")
    w = _catalog_writer(dl)
    try:
        snap = w.create_snapshot(
            [f"inserted_into_table:{handle.meta.table_id}"])
        w.insert_inlined_rows(handle.meta.table_id, snap,
                              ["id", "t"], ["int32", "time"],
                              [(1, 3600000000), (2, "04:05:06")])
    finally:
        w.close()
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.inl8").collect()}
    assert got == {1: datetime.time(1, 0), 2: datetime.time(4, 5, 6)}


def test_add_files_rejects_non_micro_time_units(dl, tmp_path):
    """TIME(NANOS)/TIME(MILLIS) files must not register: the era-proof
    long read interprets raw int64 values as MICROSECONDS of day, so a
    nanos file would silently read 1000× off. Gate applies to every
    leaf, nested included."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datafusion_ducklake_spark.errors import InvalidConfig
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1], pa.int32()),
        "t": pa.array([1000], pa.time64("ns"))}), ns)
    dl.create_empty_table("main.nst", "id INTEGER, t TIME")
    with pytest.raises(InvalidConfig, match="TIME\\(MICROS\\)"):
        dl.add_files("main.nst", [ns])


def test_nested_time_is_us_long_both_eras(dl, spark, tmp_path):
    """NESTED time keeps the pre-r8 µs-of-day long representation (the
    era-proof top-level rewrite can't reach nested fields, and a native
    nested TimeType read would misread pre-r8 bare-int64 fields as
    nanoseconds). Both file eras read correctly as long µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datafusion_ducklake_spark.metadata.writer import DataFileInfo
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    from datafusion_ducklake_spark.types import ducklake_to_spark_type
    assert ducklake_to_spark_type("struct<t:time>").spark_type == \
        T.StructType([T.StructField("t", T.LongType(), True)])

    dl.create_empty_table("main.nt", "id INTEGER, s STRUCT(t TIME)")
    # post-r8 era: DuckDB-written nested TIME(µs) via add_files
    new = str(tmp_path / "nt_new.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 1::INT AS id, {{'t': TIME '01:02:03.000004'}} AS s) "
        f"TO '{new}' (FORMAT PARQUET)")
    dl.add_files("main.nt", [new])
    # pre-r8 era: bare nested int64 (the old engine's own physical form)
    old = str(tmp_path / "nt_old.parquet")
    pq.write_table(pa.table({
        "id": pa.array([2], pa.int32()),
        "s": pa.array([{"t": 7200000000}],
                      pa.struct([pa.field("t", pa.int64())]))}), old)
    handle = dl.table_handle("main.nt")
    w = _catalog_writer(dl)
    try:
        snap = w.create_snapshot(
            [f"inserted_into_table:{handle.meta.table_id}"])
        w.register_data_file(
            handle.meta.table_id, snap,
            DataFileInfo(old, False, os.path.getsize(old), None, 1,
                         row_id_start=1))
    finally:
        w.close()
    dl.refresh()
    got = {r.id: r.s.t for r in dl.table("main.nt").collect()}
    assert got == {1: 3723000004, 2: 7200000000}


def test_nested_time_table_compacts(dl, spark, tmp_path):
    """Rewrites of nested-time tables work: the rewrite frame carries
    the nested µs-long representation, accepted into the declared
    struct<t:time> by the nested store-as-declared rule (catalog type
    unchanged)."""
    new = str(tmp_path / "nt.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT i::INT AS id, {{'t': (TIME '01:00:00' + "
        f"INTERVAL (i) MINUTE)::TIME}} AS s FROM range(6) x(i)) "
        f"TO '{new}' (FORMAT PARQUET)")
    dl.create_empty_table("main.ntc", "id INTEGER, s STRUCT(t TIME)")
    dl.add_files("main.ntc", [new])
    dl.refresh()
    dl.delete_from("main.ntc", "id < 2")
    dl.refresh()
    dl.compact("main.ntc", preserve_rowids=False)
    dl.refresh()
    cols = {c.column_name: c.column_type
            for c in dl.table_handle("main.ntc").columns}
    assert cols["s"] == "struct<t:time>"
    got = {r.id: r.s.t for r in dl.table("main.ntc").collect()}
    assert got == {i: (3600 + 60 * i) * 1000000 for i in range(2, 6)}


def test_interval_null_slot_garbage_does_not_trip_overflow():
    """NULL slots carry unspecified data bytes; the int32-overflow guard
    must only inspect valid rows."""
    import numpy as np
    import pyarrow as pa

    from datafusion_ducklake_spark.sources.scan import interval_decode_arrow
    good = np.array([1, 2, 3], dtype="<u4").tobytes()
    garbage = np.array([2 ** 31, 2 ** 31, 0], dtype="<u4").tobytes()
    validity = pa.array([True, False]).buffers()[1]
    data = pa.py_buffer(good + garbage)
    arr = pa.Array.from_buffers(pa.binary(12), 2, [validity, data])
    assert arr.null_count == 1
    out = interval_decode_arrow(pa.chunked_array([arr]))
    assert out.to_pylist() == [
        {"months": 1, "days": 2, "micros": 3000}, None]


def test_time_stats_pruning_across_eras(dl, spark, tmp_path):
    """Catalog stats pruning on a time column must normalize both stat
    eras to µs-of-day: pre-r8 stats are digit strings of the old int64
    encoding; post-r8 stats are ISO time text. Raw string comparison
    would wrongly prune ('01:00:00' < '3600000000' as text)."""
    from datafusion_ducklake_spark.table_writer import _catalog_writer
    data = str(tmp_path / "t.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT i::INT AS id, (TIME '01:00:00' + INTERVAL (i) "
        f"HOUR)::TIME AS t FROM range(4) x(i)) TO '{data}' "
        f"(FORMAT PARQUET)")        # times 01:00..04:00
    dl.create_empty_table("main.pt", "id INTEGER, t TIME")
    dl.add_files("main.pt", [data])
    dl.refresh()
    handle = dl.table_handle("main.pt")
    col_id = {c.column_name: c.column_id for c in handle.columns}["t"]
    file_id = handle._raw_files[0].data_file_id

    # overwrite with PRE-R8-STYLE stats: µs-of-day digit strings
    w = _catalog_writer(dl)
    try:
        with w._txn() as cur:
            cur.execute(
                "DELETE FROM ducklake_file_column_stats "
                "WHERE data_file_id = ?", (file_id,))
        w.register_file_column_stats(file_id, handle.meta.table_id, [
            (col_id, 32, 4, 0, "3600000000", "14400000000", False)])
    finally:
        w.close()
    dl.refresh()
    handle = dl.table_handle("main.pt")
    # file range is [01:00, 04:00]: a filter above it prunes, inside keeps
    assert handle.prune_files([("t", ">", datetime.time(13, 0))]) == []
    assert len(handle.prune_files([("t", ">", datetime.time(2, 0))])) == 1
    # values still correct through the scan either way
    assert dl.table("main.pt").count() == 4


def test_encrypted_time_roundtrip(spark, tmp_path):
    """TIME through an encrypted catalog: PME write (pyarrow time64),
    executor-side decrypt scan, values intact."""
    db = str(tmp_path / "enc.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.set_option("encrypted", "true")
    w.close()
    edl = DuckLakeSession(spark, db)
    edl.create_table("main.tt", _time_df(spark))
    from datafusion_ducklake_spark.sources import encryption as enc
    files = [f for f in __import__("glob").glob(
        str(tmp_path / "lake" / "**" / "*.parquet"), recursive=True)]
    assert files and all(enc.is_encrypted_parquet(p) for p in files)
    got = {r.id: r.t for r in edl.table("main.tt").collect()}
    assert got == dict(enumerate(TIMES))


@pytest.mark.slow
def test_time_survives_compaction(dl, spark):
    dl.create_table("main.tt", _time_df(spark))
    dl.insert_into("main.tt", spark.createDataFrame(
        [(50, datetime.time(7, 7, 7))],
        T.StructType([T.StructField("id", T.IntegerType(), False),
                      T.StructField("t", T.TimeType(), True)])))
    dl.refresh()
    dl.delete_from("main.tt", "id = 0")
    dl.refresh()
    dl.compact("main.tt")
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.tt").collect()}
    assert got[50] == datetime.time(7, 7, 7)
    assert 0 not in got and len(got) == 5


def test_mapped_bare_int64_time_reads_exactly(dl, spark, tmp_path):
    """r8 ADVICE (scan.py mapped path): a legacy bare-int64 time file
    registered under a NAME MAPPING (the pre-r8 add_files shape, here
    with a rename so the mapping is non-identity) must take the same
    era-proof long read as id-resolved files. Before the fix the mapped
    read schema dropped TIME_MARK, so Spark read the un-annotated int64
    natively as TimeType — i.e. as NANOSECONDS, 1000x off (or failed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ducklake_spark.metadata.writer import DataFileInfo
    from datafusion_ducklake_spark.table_writer import _catalog_writer

    old = str(tmp_path / "legacy_mapped.parquet")
    micros = [3600000000, 45296000007, None]   # 01:00, 12:34:56.000007
    pq.write_table(pa.table({
        "id": pa.array([0, 1, 2], pa.int32()),
        "t_old": pa.array(micros, pa.int64())}), old)
    dl.create_empty_table("main.mt", "id INTEGER, t TIME")
    handle = dl.table_handle("main.mt")
    cids = {c.column_name: c.column_id for c in handle.columns}
    w = _catalog_writer(dl)
    try:
        snap = w.create_snapshot(
            [f"inserted_into_table:{handle.meta.table_id}"])
        mid = w.create_name_mapping(
            handle.meta.table_id, ["id", "t_old"],
            [cids["id"], cids["t"]])
        w.register_data_file(
            handle.meta.table_id, snap,
            DataFileInfo(old, False, os.path.getsize(old), None, 3,
                         row_id_start=0, mapping_id=mid))
    finally:
        w.close()
    dl.refresh()
    got = {r.id: r.t for r in dl.table("main.mt").collect()}
    assert got == {0: datetime.time(1, 0),
                   1: datetime.time(12, 34, 56, 7),
                   2: None}
    # the DML read primitive funnels through the same mapped schema
    dl.delete_from("main.mt", "t = TIME '01:00:00'")
    dl.refresh()
    assert sorted(r.id for r in dl.table("main.mt").collect()) == [1, 2]


def test_nested_time_representation_pinned_cross_engine(dl, spark, tmp_path):
    """r8 verdict #6: pin the documented nested-time representation with
    a test on BOTH seams. DuckDB-written struct<t TIME(us)> scans as
    long µs-of-day (types.py nested-time rule); after an ENGINE rewrite
    (compact), DuckDB reading the engine-written file sees the nested
    field as BIGINT µs — the representation gap is the documented
    contract, not an accident: a nested TimeType write would make
    pre-r8 bare-int64 nested fields unreadable (era split is
    per-top-level-column, and nested fields have no mark channel)."""
    new = str(tmp_path / "ntx.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT i::INT AS id, {{'t': (TIME '10:00:00' + "
        f"INTERVAL (i) SECOND)::TIME}} AS s FROM range(4) x(i)) "
        f"TO '{new}' (FORMAT PARQUET)")
    dl.create_empty_table("main.ntx", "id INTEGER, s STRUCT(t TIME)")
    dl.add_files("main.ntx", [new])
    dl.refresh()
    # seam 1: engine scan of the DuckDB-written TIME(µs) file → long µs
    got = {r.id: r.s.t for r in dl.table("main.ntx").collect()}
    assert got == {i: (10 * 3600 + i) * 1000000 for i in range(4)}
    # engine DML + rewrite produce an engine-written file
    dl.delete_from("main.ntx", "id = 0")
    dl.refresh()
    dl.compact("main.ntx", preserve_rowids=False)
    dl.refresh()
    lake = dl.table_handle("main.ntx").table_path
    lake = lake[len("file://"):] if lake.startswith("file://") else lake
    files = [os.path.join(lake, f) for f in os.listdir(lake)
             if f.endswith(".parquet")
             and not f.startswith("ducklake-delete-")]
    assert len(files) == 1
    # seam 2: DuckDB reads the ENGINE-written nested field as BIGINT µs
    rows = duckdb.connect().execute(
        f"SELECT id, s.t, typeof(s.t) FROM '{files[0]}' ORDER BY id"
    ).fetchall()
    assert [(r[0], r[1]) for r in rows] \
        == [(i, (10 * 3600 + i) * 1000000) for i in range(1, 4)]
    assert all(r[2] == "BIGINT" for r in rows)
