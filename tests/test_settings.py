"""DuckLake parquet write settings (corpus: sql/settings/): compression,
writer version, row-group byte size — applied through the catalog's
scoped options with table > schema > global precedence."""

import glob

import pyarrow.parquet as pq
import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    return DuckLakeSession(spark, db)


def _files(tmp_path, table):
    return [p for p in glob.glob(f"{tmp_path}/lake/main/{table}/*.parquet")]


def _codecs(paths):
    out = set()
    for p in paths:
        meta = pq.read_metadata(p)
        for rg in range(meta.num_row_groups):
            out.add(meta.row_group(rg).column(0).compression)
    return out


def test_compression_and_version_apply(dl, spark, tmp_path):
    dl.sql("CALL ducklake_set_option('parquet_compression', 'zstd')")
    dl.sql("CALL ducklake_set_option('parquet_version', '2')")
    dl.create_table("main.t", spark.range(1000).selectExpr(
        "CAST(id AS INT) AS i", "repeat('x', 20) AS s"))
    assert _codecs(_files(tmp_path, "t")) == {"ZSTD"}
    # v2 writer emits data-page-v2 encodings (RLE/DELTA family, never
    # the v1 PLAIN_DICTIONARY)
    meta = pq.read_metadata(_files(tmp_path, "t")[0])
    encs = {e for rg in range(meta.num_row_groups)
            for e in meta.row_group(rg).column(0).encodings}
    assert "PLAIN_DICTIONARY" not in encs

    # clearing restores the default codec for new writes
    dl.sql("CALL ducklake_set_option('parquet_compression', NULL)")
    dl.insert_into("main.t", spark.range(5).selectExpr(
        "CAST(id AS INT) AS i", "'y' AS s"))
    assert len(_codecs(_files(tmp_path, "t"))) == 2


def test_row_group_size_bytes(dl, spark, tmp_path):
    dl.sql(
        "CALL ducklake_set_option('parquet_row_group_size_bytes', '65536')")
    dl.create_table("main.rg", spark.range(200000).selectExpr(
        "id", "repeat('payload', 4) AS s"))
    meta = pq.read_metadata(_files(tmp_path, "rg")[0])
    assert meta.num_row_groups >= 2


def test_compression_applies_to_dml_and_maintenance_files(dl, spark,
                                                         tmp_path):
    """The settings reach every data file a write stages, not only
    INSERT's: UPDATE's rewrite, MERGE's rewrite and insert halves, and
    compact's outputs."""
    dl.sql("CALL ducklake_set_option('parquet_compression', 'zstd')")
    dl.create_table("main.t", spark.range(100).selectExpr(
        "id", "repeat('x', 20) AS s"))

    def data_files():
        return {p for p in _files(tmp_path, "t")
                if "ducklake-delete-" not in p}

    written = data_files()

    def new_codecs():
        nonlocal written
        now = data_files()
        fresh, written = now - written, now
        assert fresh
        return _codecs(fresh)

    dl.sql("UPDATE t SET s = 'y' WHERE id < 10")
    assert new_codecs() == {"ZSTD"}
    # the UPDATE's delete file too (the table had none before)
    assert _codecs(p for p in _files(tmp_path, "t")
                   if "ducklake-delete-" in p) == {"ZSTD"}
    dl.merge_into("main.t", spark.createDataFrame(
        [(5, "z"), (500, "w")], "id BIGINT, s STRING"), ["id"],
        when_matched_update="source")
    assert new_codecs() == {"ZSTD"}
    dl.compact("main.t")
    assert new_codecs() == {"ZSTD"}


def test_per_table_scope_beats_global(dl, spark, tmp_path):
    dl.create_table("main.a", spark.range(10).selectExpr("id"))
    dl.create_table("main.b", spark.range(10).selectExpr("id"))
    dl.sql("CALL ducklake_set_option('parquet_compression', 'uncompressed')")
    dl.sql("CALL ducklake_set_option('parquet_compression', 'zstd', "
           "table_name => 'a')")
    dl.insert_into("main.a", spark.range(10).selectExpr("id"))
    dl.insert_into("main.b", spark.range(10).selectExpr("id"))
    assert "ZSTD" in _codecs(_files(tmp_path, "a"))
    assert _codecs(_files(tmp_path, "b")) >= {"UNCOMPRESSED"}
    assert "ZSTD" not in _codecs(_files(tmp_path, "b"))


def test_schema_scope_options_listing_and_persistence(dl, spark, tmp_path):
    """sql/settings/per_table_settings.test: 4-level precedence
    (table > schema > global) across TWO schemas, set_option scope-name
    validation, the ducklake_options() listing (option_name/value/
    scope/scope_entry), and persistence across a fresh session (the
    upstream detach/attach loop)."""
    from datafusion_ducklake_spark.errors import SchemaNotFound, TableNotFound

    dl.sql("CREATE SCHEMA s1")
    dl.create_table("main.t1", spark.range(3).selectExpr("id"))
    dl.create_table("main.t2", spark.range(3).selectExpr("id"))
    dl.create_table("s1.t1", spark.range(3).selectExpr("id"))
    dl.create_table("s1.t2", spark.range(3).selectExpr("id"))

    dl.sql("CALL ducklake_set_option('parquet_compression', 'uncompressed')")
    dl.sql("CALL ducklake_set_option('parquet_compression', 'zstd', "
           "table_name => 't1')")
    dl.sql("CALL ducklake_set_option('parquet_compression', 'lz4', "
           "schema => 's1')")
    dl.sql("CALL ducklake_set_option('parquet_compression', 'gzip', "
           "schema => 's1', table_name => 't1')")

    with pytest.raises(TableNotFound):
        dl.set_option("parquet_compression", "gzip",
                      table_name="nonexistent_table")
    with pytest.raises(SchemaNotFound):
        dl.set_option("parquet_compression", "gzip",
                      schema="nonexistent_schema")

    # two passes: the second on a FRESH session over the same catalog —
    # scoped options persist (upstream's detach/attach loop)
    for attempt in range(2):
        sess = dl if attempt == 0 else DuckLakeSession(
            dl.spark, str(tmp_path / "cat.sqlite"))
        for qual, codec in [("main.t1", "ZSTD"), ("main.t2", "UNCOMPRESSED"),
                            ("s1.t1", "GZIP"), ("s1.t2", "LZ4")]:
            sch, tbl = qual.split(".")
            pat = f"{tmp_path}/lake/{sch}/{tbl}/*.parquet"
            before = set(glob.glob(pat))
            sess.insert_into(qual, spark.range(3).selectExpr("id"))
            new = set(glob.glob(pat)) - before   # pre-option create files
            # pyarrow labels parquet LZ4_RAW as "LZ4" (the deprecated
            # Hadoop-framed codec would read back as UNKNOWN)
            got = _codecs(sorted(new))           # stay SNAPPY; check delta
            assert got == {codec}, f"{qual} pass {attempt}: {got}"

    rows = {(r["value"], r["scope"], r["scope_entry"])
            for r in dl.sql(
                "SELECT * FROM ducklake_options() "
                "WHERE option_name = 'parquet_compression'").collect()}
    assert rows == {("uncompressed", "GLOBAL", None),
                    ("lz4", "SCHEMA", "s1"),
                    ("gzip", "TABLE", "s1.t1"),
                    ("zstd", "TABLE", "main.t1")}


def test_insert_reads_settings_in_one_statement(dl, spark, tmp_path):
    """An INSERT reads every ducklake_metadata row once — retry count,
    inlining limit, file size, parquet options, encryption and the
    refresh's data_path alike — and never keeps them for the next
    statement: a setting another writer changes in between applies."""
    dl.sql("CREATE TABLE t (id INT, s STRING)")
    dl.sql("INSERT INTO t VALUES (1, 'a')")
    seen = []
    fetch = dl.provider._fetchall

    def spy(query, params=()):
        seen.append(query)
        return fetch(query, params)

    dl.provider._fetchall = spy
    dl.sql("INSERT INTO t VALUES (2, 'b')")
    assert sum("ducklake_metadata" in q for q in seen) == 1

    w = CatalogWriter.sqlite(str(tmp_path / "cat.sqlite"))
    w.set_option("parquet_compression", "zstd")
    w.close()
    before = set(_files(tmp_path, "t"))
    dl.sql("INSERT INTO t VALUES (3, 'c')")
    assert _codecs(set(_files(tmp_path, "t")) - before) == {"ZSTD"}
