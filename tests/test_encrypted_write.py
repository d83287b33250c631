"""Encrypted-catalog WRITE path (corpus: sql/encryption/encryption.test —
ATTACH ... (ENCRYPTED); every data + delete file is PME parquet with its
own random key recorded in the catalog; plain readers must fail)."""

from __future__ import annotations

import glob
import os

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from datafusion_ducklake_spark.sources import encryption as enc


@pytest.fixture()
def edl(spark, tmp_path):
    db = str(tmp_path / "enc.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.set_option("encrypted", "true")
    w.close()
    return DuckLakeSession(spark, db)


def _lake_files(dl, pattern="*.parquet"):
    lake = os.path.dirname(dl.catalog_path)
    return [p for p in glob.glob(f"{lake}/**/{pattern}", recursive=True)]


def test_encrypted_insert_read_delete_roundtrip(edl, spark):
    # CREATE AS over range(1000) — the reference test's exact data
    edl.sql("CREATE TABLE test (id BIGINT)")
    edl.insert_into("main.test", spark.range(1000).selectExpr("id"))
    assert edl.sql("SELECT COUNT(*) AS n, SUM(id) AS s FROM test"
                   ).collect()[0][:] == (1000, 499500)

    # the parquet on disk is encrypted: plain readers fail
    files = _lake_files(edl)
    assert files
    for p in files:
        assert enc.is_encrypted_parquet(p), p
    with pytest.raises(Exception):
        spark.read.parquet(files[0]).collect()

    # keys live in the catalog, one per file
    keys = [f.encryption_key
            for f in edl.table_handle("main.test")._raw_files]
    assert all(keys)

    # DELETE over the encrypted table writes an ENCRYPTED delete file
    edl.delete_from("main.test", "id % 2 = 0")
    assert edl.sql("SELECT COUNT(*) AS n, SUM(id) AS s FROM test"
                   ).collect()[0][:] == (500, 250000)
    dels = _lake_files(edl, "ducklake-delete-*.parquet")
    assert dels and all(enc.is_encrypted_parquet(p) for p in dels)

    # a second DELETE folds the encrypted existing positions (cumulative)
    edl.delete_from("main.test", "id = 1")
    assert edl.sql("SELECT COUNT(*) AS n FROM test").collect()[0][0] == 499

    # fresh attach reads everything back
    dl2 = DuckLakeSession(edl.spark, edl.catalog_path)
    assert dl2.sql("SELECT COUNT(*) AS n FROM test").collect()[0][0] == 499


def test_encrypted_update_rewrites_encrypted(edl, spark):
    edl.sql("CREATE TABLE u (id BIGINT, tag STRING)")
    edl.insert_into("main.u", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id LONG, tag STRING"))
    edl.update_where("main.u", {"tag": "'z'"}, "id >= 2")
    rows = sorted((r.id, r.tag) for r in edl.table("main.u").collect())
    assert rows == [(1, "a"), (2, "z"), (3, "z")]
    # every data file on disk (original + rewrite) is encrypted
    for p in _lake_files(edl):
        assert enc.is_encrypted_parquet(p), p
    # rewrite files carry their keys in the catalog
    assert all(f.encryption_key
               for f in edl.table_handle("main.u")._raw_files)


def test_encrypted_compact_guard_and_plain_rewrite(edl, spark):
    edl.sql("CREATE TABLE c (id BIGINT)")
    edl.insert_into("main.c", spark.range(10).selectExpr("id"))
    edl.delete_from("main.c", "id = 3")
    with pytest.raises(InvalidConfig, match="preserve_rowids=False"):
        edl.compact("main.c")
    with pytest.raises(InvalidConfig, match="rewrite_data_files"):
        edl.rewrite_data_files("main.c")
    # the renumbering rewrite works and stays encrypted
    n = edl.compact("main.c", preserve_rowids=False)
    assert n == 9
    assert edl.sql("SELECT COUNT(*) AS n FROM c").collect()[0][0] == 9
    assert all(f.encryption_key
               for f in edl.table_handle("main.c")._raw_files)
    for p in _lake_files(edl):
        assert enc.is_encrypted_parquet(p), p


def test_encrypted_virtual_columns(edl, spark):
    """rowid and the virtual columns ride the encrypted scan like the
    plain one: positions are physical, deleted rows are gone."""
    edl.sql("CREATE TABLE v (id BIGINT)")
    edl.insert_into("main.v", spark.range(6).coalesce(1).selectExpr("id"))
    edl.delete_from("main.v", "id = 2")
    rows = edl.table("main.v", with_virtual=True).collect()
    assert sorted((r.id, r.file_row_number, r.rowid) for r in rows) == \
        [(i, i, i) for i in (0, 1, 3, 4, 5)]
    uris = {f.data_uri for f in edl.table_handle("main.v").files}
    assert {r.filename for r in rows} <= uris
    assert len({r.snapshot_id for r in rows}) == 1


def test_encrypted_change_feed(edl, spark):
    """CDC over an encrypted table reads its data files through the
    encrypted scan and decrypts the delete files (the current one and a
    superseded one) with their catalog keys."""
    edl.sql("CREATE TABLE t (id BIGINT)")
    edl.insert_into("main.t", spark.range(6).coalesce(1).selectExpr("id"))
    s0 = edl.provider.get_current_snapshot()
    edl.sql("DELETE FROM t WHERE id < 3")
    s1 = edl.provider.get_current_snapshot()
    edl.sql("DELETE FROM t WHERE id = 4")           # supersedes s1's file
    s2 = edl.provider.get_current_snapshot()
    edl.insert_into("main.t", spark.range(10, 11).selectExpr("id"))
    s3 = edl.provider.get_current_snapshot()
    dels = edl.table_deletions("main.t", s0, s3).collect()
    assert sorted((r.id, r.rowid, r.snapshot_id) for r in dels) == \
        [(0, 0, s1), (1, 1, s1), (2, 2, s1), (4, 4, s2)]
    want = [(0, "delete"), (1, "delete"), (2, "delete"), (4, "delete"),
            (10, "insert")]
    assert sorted((r.id, r.change_type) for r in
                  edl.table_changes("main.t", s0, s3).collect()) == want
    assert sorted((r.id, r.change_type) for r in edl.sql(
        f"SELECT id, change_type FROM "
        f"ducklake_table_changes('main.t', {s0}, {s3})").collect()) == want
