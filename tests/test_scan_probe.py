"""Plan-time I/O discipline: the scan must not probe every data file's
footer. The reference reads ONE footer per table and caches the mapping
(table.rs:220-295); our scan uses the catalog's mapping_id signal plus at
most one representative probe per plan. At 100k files the difference is
minutes of driver-side I/O before the first task launches."""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.sources import scan as scan_mod
from tests.ducklake_fixtures import FixtureCatalog, write_data_file


@pytest.fixture()
def many_files_catalog(tmp_path):
    cat = FixtureCatalog(str(tmp_path))
    s1 = cat.snapshot()
    schema_id = cat.schema("main", s1)
    table_id = cat.table(schema_id, "main", "wide", s1)
    cat.column(table_id, 1, "id", "int32", 0, s1)
    cat.column(table_id, 2, "name", "varchar", 1, s1)
    cat.column(table_id, 3, "email", "varchar", 2, s1)
    tdir = cat.table_dir("main", "wide")
    for i in range(100):
        name, size = write_data_file(
            tdir, [(i, f"u{i}", f"u{i}@x.com")])
        cat.data_file(table_id, name, size, s1, 1)
    return cat


def test_hundred_files_at_most_one_footer_probe(spark, many_files_catalog):
    scan_mod._FIELD_ID_CACHE.clear()
    scan_mod.PROBE_COUNT = 0
    dl = DuckLakeSession(spark, many_files_catalog.db_path)
    df = dl.table("main.wide")
    assert scan_mod.PROBE_COUNT <= 1          # plan-time I/O is O(1)
    assert df.count() == 100                  # and the plan still works
    assert scan_mod.PROBE_COUNT <= 1


def test_mapping_id_skips_probe_entirely(spark, tmp_path):
    """Files registered with mapping_id (add_files of id-less parquet) are
    classified from the catalog alone — zero footer reads, and the read
    schema falls back to name matching so values resolve correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "catalog.sqlite")
    data = str(tmp_path / "lake")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=data)
    w.close()
    dl = DuckLakeSession(spark, db)
    df = spark.createDataFrame([(1, "a")], "id INT, s STRING")
    dl.create_table("main.m", df)

    ext = str(tmp_path / "ext.parquet")       # no field ids
    pq.write_table(pa.table({"id": pa.array([7], pa.int32()),
                             "s": pa.array(["z"], pa.string())}), ext)
    dl.add_files("main.m", [ext])

    scan_mod._FIELD_ID_CACHE.clear()
    scan_mod.PROBE_COUNT = 0
    dl2 = DuckLakeSession(spark, db)
    rows = sorted((r["id"], r["s"]) for r in dl2.table("main.m").collect())
    assert rows == [(1, "a"), (7, "z")]
    # one probe for the self-written group; none for the mapped file
    assert scan_mod.PROBE_COUNT <= 1


def test_written_tables_have_rowids(spark, tmp_path):
    """register_data_file stamps row_id_start, so with_rowid scans work on
    tables written by this engine (ADVICE r1), and rowids keep advancing
    across appends."""
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.r", spark.createDataFrame(
        [(10,), (11,), (12,)], "v INT"))
    dl.insert_into("main.r", spark.createDataFrame([(13,), (14,)], "v INT"))

    got = sorted((r["v"], r["rowid"])
                 for r in dl.table("main.r", with_rowid=True).collect())
    assert got == [(10, 0), (11, 1), (12, 2), (13, 3), (14, 4)]


def test_row_index_is_read_only_by_the_scan():
    """Every read of a row's file-local position goes through
    sources/scan.py: no other module names ``_metadata.row_index`` in
    code (docstrings and comments may mention it)."""
    import ast
    import pathlib
    pkg = pathlib.Path(scan_mod.__file__).resolve().parent.parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pathlib.Path(scan_mod.__file__).resolve():
            continue
        tree = ast.parse(path.read_text())
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef))
                and n.body and isinstance(n.body[0], ast.Expr)
                and isinstance(n.body[0].value, ast.Constant)}
        hits += [f"{path.relative_to(pkg)}:{n.lineno}"
                 for n in ast.walk(tree)
                 if isinstance(n, ast.Constant) and isinstance(n.value, str)
                 and "_metadata.row_index" in n.value and id(n) not in docs]
    assert hits == []
