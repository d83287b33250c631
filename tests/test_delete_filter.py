"""The one deletion-vector filter (sources/scan.bitset_filter): every
merge-on-read read plan is the scan plus one filter of constant
expression size, and DML folds its new positions into each touched
file's prior deletion vector without reading a delete file through
Spark."""

from __future__ import annotations

import json

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameReader

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from datafusion_ducklake_spark.sources import encryption as enc
from tests.ducklake_fixtures import (FixtureCatalog, write_data_file,
                                     write_delete_file)

ROWS_PER_FILE = 20


def _dirty_fixture(root, n_files: int) -> DuckLakeSession:
    """main.t over ``n_files`` four-row files, positions 1 and 3 of each
    deleted."""
    cat = FixtureCatalog(root)
    s1 = cat.snapshot()
    sid = cat.schema("main", s1)
    tid = cat.table(sid, "main", "t", s1)
    cat.column(tid, 1, "id", "int32", 0, s1)
    cat.column(tid, 2, "name", "varchar", 1, s1)
    cat.column(tid, 3, "email", "varchar", 2, s1)
    tdir = cat.table_dir("main", "t")
    s2 = cat.snapshot()
    for i in range(n_files):
        rows = [(i * 10 + j, f"u{j}", "e") for j in range(4)]
        fname, fsize = write_data_file(tdir, rows)
        fid = cat.data_file(tid, fname, fsize, s1, 4)
        dname, dsize = write_delete_file(tdir, fname, [1, 3])
        cat.delete_file(tid, fid, dname, dsize, 2, s2)
    return cat


def _session(spark, tmp_path, encrypted: bool) -> DuckLakeSession:
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    if encrypted:
        w.set_option("encrypted", "true")
    w.close()
    return DuckLakeSession(spark, db)


def _classes(obj) -> list[str]:
    """Short class names of every plan and expression node in a
    ``toJSON`` tree."""
    if isinstance(obj, dict):
        own = [obj["class"].rsplit(".", 1)[-1]] if "class" in obj else []
        return own + [c for v in obj.values() for c in _classes(v)]
    if isinstance(obj, list):
        return [c for v in obj for c in _classes(v)]
    return []


def _delete_filter_size(df) -> int:
    """Assert the optimized plan holds no join and no CASE, and return
    the node count of its one deletion-vector filter (the Filter whose
    condition looks words up in a map literal)."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    classes = _classes(nodes)
    assert "Join" not in classes and "CaseWhen" not in classes, classes
    filters = [n["condition"] for n in nodes
               if n["class"].endswith(".Filter")
               and any(e["class"].endswith(".Literal")
                       and e["dataType"].get("type") == "map"
                       for e in n["condition"]
                       if isinstance(e.get("dataType"), dict))]
    assert len(filters) == 1, classes
    return len(filters[0])


def test_read_plan_is_one_constant_size_filter(spark, tmp_path):
    sizes = {}
    for n in (1, 17, 40):
        dl = DuckLakeSession(
            spark, _dirty_fixture(tmp_path / f"n{n}", n).db_path)
        df = dl.table("main.t")
        sizes[n] = _delete_filter_size(df)
        assert sorted(r["id"] for r in df.collect()) == sorted(
            i * 10 + j for i in range(n) for j in (0, 2))
    assert sizes[17] == sizes[40]


def test_encrypted_read_plan_is_one_filter(spark, tmp_path):
    edl = _session(spark, tmp_path, encrypted=True)
    edl.create_table("main.t", spark.range(0, 60, 1, 3).selectExpr(
        "CAST(id AS INT) AS id"), single_file=False)
    assert edl.delete_from("main.t", "id % 4 = 1") == 15
    handle = edl.table_handle("main.t")
    assert all(f.encryption_key and f.delete_encryption_key
               for f in handle.files)
    df = edl.table("main.t")
    _delete_filter_size(df)
    assert sorted(r["id"] for r in df.collect()) == [
        i for i in range(60) if i % 4 != 1]


def _positions(f, delete: bool) -> list[int]:
    """A data file's row ids (``delete=False``) or its delete file's
    positions, read with pyarrow, decrypting when the catalog holds a
    key."""
    uri, key, col = (f.delete_uri, f.delete_encryption_key, "pos") \
        if delete else (f.data_uri, f.encryption_key, "id")
    path = uri[len("file://"):] if uri.startswith("file://") else uri
    tbl = enc.read_encrypted_arrow(path, enc.decode_key(key)) \
        if key else pq.read_table(path)
    return tbl.column(col).to_pylist()


@pytest.mark.parametrize("encrypted", [False, True],
                         ids=["plain", "encrypted"])
def test_dml_folds_prior_vectors_without_reading_delete_files(
        spark, tmp_path, monkeypatch, encrypted):
    n_files = 17
    dl = _session(spark, tmp_path, encrypted)
    dl.create_table("main.t", spark.range(
        0, n_files * ROWS_PER_FILE, 1, n_files).selectExpr(
            "CAST(id AS INT) AS id"), single_file=False)
    assert dl.delete_from("main.t", "id % 5 = 0") == n_files * 4
    before = {f.data_uri: f for f in dl.table_handle("main.t").files}
    assert len(before) == n_files
    assert all(f.delete_uri for f in before.values())

    # no Spark job is handed a delete file: neither a parquet read (plain
    # files) nor a DataFrame of paths to decrypt on the executors (PME)
    handed = []

    def spy(cls, name):
        real = getattr(cls, name)

        def call(self, *args, **kwargs):
            handed.append(repr(args))
            return real(self, *args, **kwargs)
        monkeypatch.setattr(cls, name, call)

    spy(DataFrameReader, "parquet")
    spy(SparkSession, "createDataFrame")
    # ids 3 and 7 of the first ten files: ten touched, seven untouched
    cond = "id % 20 IN (3, 7) AND id < 200"
    assert dl.delete_from("main.t", cond) == 20
    monkeypatch.undo()
    assert handed and not [a for a in handed if "ducklake-delete-" in a]

    after = {f.data_uri: f for f in dl.table_handle("main.t").files}
    assert after.keys() == before.keys()
    touched = 0
    for uri, f in after.items():
        ids = _positions(f, delete=False)
        new = {p for p, i in enumerate(ids) if i % 20 in (3, 7) and i < 200}
        old = set(_positions(before[uri], delete=True))
        if new:
            touched += 1
            assert f.delete_uri != before[uri].delete_uri
            assert sorted(_positions(f, delete=True)) == sorted(old | new)
        else:
            assert f.delete_uri == before[uri].delete_uri
    assert touched == 10
    assert sorted(r["id"] for r in dl.table("main.t").collect()) == [
        i for i in range(n_files * ROWS_PER_FILE)
        if i % 5 and not (i % 20 in (3, 7) and i < 200)]


def test_vector_cache_keeps_a_wide_table(spark, tmp_path, monkeypatch):
    """The driver's deletion-vector cache is bounded by the bytes of
    words it holds, not by a file count: three reads of a table with 65
    dirty files read each delete file once, on the first read."""
    reads = []
    real = pq.ParquetFile
    monkeypatch.setattr(pq, "ParquetFile", lambda path, *a, **k: (
        reads.append(str(path)), real(path, *a, **k))[1])
    dl = DuckLakeSession(spark, _dirty_fixture(tmp_path, 65).db_path)
    per_read = []
    for _ in range(3):
        seen = len(reads)
        assert dl.table("main.t").count() == 65 * 2
        per_read.append(len([p for p in reads[seen:]
                             if "ducklake-delete-" in p]))
    assert per_read == [65, 0, 0]
