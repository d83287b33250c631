"""Read-path parity tests: snapshot-pinned scans, MOR deletes, renames,
time travel — ports of the reference's delete_filter_tests.rs /
renamed_columns_tests.rs scenarios over our hand-built fixtures."""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import (CatalogCorruption,
                                              SchemaNotFound, TableNotFound)
from tests.ducklake_fixtures import (FixtureCatalog, build_users_fixture,
                                     write_data_file, write_delete_file)


@pytest.fixture(scope="module")
def users_fx(tmp_path_factory):
    return build_users_fixture(tmp_path_factory.mktemp("users_fx"))


@pytest.fixture(scope="module")
def dl(spark, users_fx):
    return DuckLakeSession(spark, users_fx["db_path"])


def ids(df):
    return sorted(r["id"] for r in df.collect())


def pa_table(rows, schema):
    import pyarrow as pa
    cols = list(zip(*rows))
    return pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                    schema=schema)


def _users_table(root):
    """An empty main.t(id, name, email) created at snapshot 1."""
    cat = FixtureCatalog(root)
    s1 = cat.snapshot()
    sid = cat.schema("main", s1)
    tid = cat.table(sid, "main", "t", s1)
    cat.column(tid, 1, "id", "int32", 0, s1)
    cat.column(tid, 2, "name", "varchar", 1, s1)
    cat.column(tid, 3, "email", "varchar", 2, s1)
    return cat, cat.table_dir("main", "t"), tid


class TestBasicScan:
    def test_full_scan_with_deletes(self, dl):
        # live at s4: file1 minus positions {1,3} + file2
        assert ids(dl.table("main.users")) == [1, 3, 5, 6]

    def test_default_schema_shorthand(self, dl):
        assert ids(dl.table("users")) == [1, 3, 5, 6]

    def test_projection_and_filter(self, dl):
        rows = (dl.table("main.users").select("name")
                .filter("id > 0").collect())  # id pruned but filter works
        assert sorted(r["name"] for r in rows) == ["alice", "carol", "erin", "frank"]

    def test_count_star_over_deletes(self, dl):
        # ref: delete_filter_tests.rs count-star over deletes
        assert dl.table("main.users").count() == 4

    def test_aggregate_over_deletes(self, dl):
        got = dl.table("main.users").agg({"id": "sum"}).collect()[0][0]
        assert got == 1 + 3 + 5 + 6

    def test_sql_entry(self, dl):
        df = dl.sql("SELECT name FROM main.users WHERE id > 3 ORDER BY name")
        assert [r["name"] for r in df.collect()] == ["erin", "frank"]

    def test_missing_table(self, dl):
        with pytest.raises(TableNotFound):
            dl.table("main.nope")

    def test_missing_schema(self, dl):
        with pytest.raises(SchemaNotFound):
            dl.table("nope.users")


class TestTimeTravel:
    # snapshot pinning exposed as time travel (ref: with_snapshot,
    # catalog.rs:71-83 — machinery exists, SQL surface doesn't; we expose it)
    def test_before_any_delete(self, spark, users_fx):
        s2 = users_fx["snapshots"][1]
        dl2 = DuckLakeSession(spark, users_fx["db_path"], snapshot_id=s2)
        assert ids(dl2.table("main.users")) == [1, 2, 3, 4, 5, 6]

    def test_first_delete_only(self, spark, users_fx):
        s3 = users_fx["snapshots"][2]
        dl3 = DuckLakeSession(spark, users_fx["db_path"], snapshot_id=s3)
        assert ids(dl3.table("main.users")) == [1, 3, 4, 5, 6]

    def test_table_created_later_invisible(self, spark, users_fx):
        s1 = users_fx["snapshots"][0]
        dl1 = DuckLakeSession(spark, users_fx["db_path"], snapshot_id=s1)
        assert ids(dl1.table("main.users")) == [1, 2, 3, 4]


class TestDuckdbProvider:
    def test_same_results_via_duckdb_catalog(self, spark, users_fx):
        duck_path = users_fx["cat"].to_duckdb()
        dl = DuckLakeSession(spark, duck_path)
        assert ids(dl.table("main.users")) == [1, 3, 5, 6]


class TestEdgeCases:
    def test_all_rows_deleted(self, spark, tmp_path):
        # ref: delete_filter_tests.rs all-rows-deleted
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "t", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        tdir = cat.table_dir("main", "t")
        fname, fsize = write_data_file(tdir, [(1, "a", "x"), (2, "b", "y")])
        fid = cat.data_file(tid, fname, fsize, s1, 2)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, [0, 1])
        cat.delete_file(tid, fid, dname, dsize, 2, s2)
        dl = DuckLakeSession(spark, cat.db_path)
        assert dl.table("main.t").count() == 0
        # schema preserved on empty result
        assert dl.table("main.t").columns == ["id", "name", "email"]

    def test_empty_table_no_files(self, spark, tmp_path):
        # ref: EmptyExec (table.rs:641-649)
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "empty_t", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        dl = DuckLakeSession(spark, cat.db_path)
        assert dl.table("main.empty_t").count() == 0
        assert dl.table("main.empty_t").columns == ["id", "name", "email"]

    def test_out_of_bounds_deleted_positions_ignored(self, spark, tmp_path):
        # ref: delete_filter.rs:211-344 — positions beyond file length no-op
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "t", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        tdir = cat.table_dir("main", "t")
        fname, fsize = write_data_file(tdir, [(1, "a", "x"), (2, "b", "y")])
        fid = cat.data_file(tid, fname, fsize, s1, 2)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, [1, 99])
        cat.delete_file(tid, fid, dname, dsize, 2, s2)
        dl = DuckLakeSession(spark, cat.db_path)
        assert ids(dl.table("main.t")) == [1]

    def test_out_of_range_positions_do_not_size_the_bitset(
            self, spark, tmp_path, monkeypatch):
        # a stray 2**40 (or any position >= record_count) is dropped
        # before the bitset is allocated: the filter's array literal
        # stays at ceil(record_count / 64) words
        from datafusion_ducklake_spark.sources import scan
        lengths = []
        real = scan._words_literal
        monkeypatch.setattr(scan, "_words_literal",
                            lambda sp, w: lengths.append(len(w))
                            or real(sp, w))
        cat, tdir, tid = _users_table(tmp_path)
        rows = [(i, f"u{i}", "x") for i in range(70)]
        fname, fsize = write_data_file(tdir, rows)
        fid = cat.data_file(tid, fname, fsize, 1, len(rows))
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, [2, 69, 70, 2 ** 40])
        cat.delete_file(tid, fid, dname, dsize, 4, s2)
        got = ids(DuckLakeSession(spark, cat.db_path).table("main.t"))
        assert got == [i for i in range(70) if i not in (2, 69)]
        assert lengths and max(lengths) <= -(-len(rows) // 64)

    def test_unknown_record_count_falls_back_to_footer(self, spark,
                                                       tmp_path):
        cat, tdir, tid = _users_table(tmp_path)
        rows = [(i, f"u{i}", "x") for i in range(5)]
        fname, fsize = write_data_file(tdir, rows)
        fid = cat.data_file(tid, fname, fsize, 1, None)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, [0, 4, 2 ** 40])
        cat.delete_file(tid, fid, dname, dsize, 3, s2)
        assert ids(DuckLakeSession(spark, cat.db_path)
                   .table("main.t")) == [1, 2, 3]

    def test_missing_delete_file_is_corruption(self, spark, tmp_path):
        # ref: missing_delete_file_tests.rs:41-92
        import os
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "t", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        tdir = cat.table_dir("main", "t")
        fname, fsize = write_data_file(tdir, [(1, "a", "x")])
        fid = cat.data_file(tid, fname, fsize, s1, 1)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, [0])
        cat.delete_file(tid, fid, dname, dsize, 1, s2)
        os.remove(os.path.join(tdir, dname))
        dl = DuckLakeSession(spark, cat.db_path)
        with pytest.raises(CatalogCorruption):
            dl.table("main.t").count()


class TestRenamedColumns:
    def test_field_id_rename(self, spark, tmp_path):
        """File written with column 'email' (field id 3); catalog says the
        column is now 'contact' (same id). Spark's field-id read resolves
        it (ref: renamed_columns_tests.rs + column_rename.rs)."""
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "t", s1)
        tdir = cat.table_dir("main", "t")
        fname, fsize = write_data_file(tdir, [(1, "a", "x@y"), (2, "b", "z@y")])
        cat.data_file(tid, fname, fsize, s1, 2)
        s2 = cat.snapshot()
        # catalog columns carry the *renamed* names, same column ids
        cat.column(tid, 1, "id", "int32", 0, s2)
        cat.column(tid, 2, "name", "varchar", 1, s2)
        cat.column(tid, 3, "contact", "varchar", 2, s2)
        dl = DuckLakeSession(spark, cat.db_path)
        df = dl.table("main.t")
        assert df.columns == ["id", "name", "contact"]
        rows = sorted((r["id"], r["contact"]) for r in df.collect())
        assert rows == [(1, "x@y"), (2, "z@y")]


class TestGroupedDirtyScan:
    def test_many_dirty_files_grouped_path(self, spark, tmp_path):
        """Twenty dirty files share the one scan and its one map-keyed
        bitset filter; results match the per-file semantics exactly."""
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "big", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        tdir = cat.table_dir("main", "big")

        n_files = 20
        expected = []
        s2 = cat.snapshot()
        for i in range(n_files):
            base = i * 10
            rows = [(base + j, f"u{base + j}", "e") for j in range(4)]
            fname, fsize = write_data_file(tdir, rows)
            fid = cat.data_file(tid, fname, fsize, s1, 4)
            # delete positions 1 and 3 of every file -> keep rows 0 and 2
            dname, dsize = write_delete_file(tdir, fname, [1, 3])
            cat.delete_file(tid, fid, dname, dsize, 2, s2)
            expected += [base + 0, base + 2]

        dl = DuckLakeSession(spark, cat.db_path)
        got = sorted(r["id"] for r in dl.table("main.big").collect())
        assert got == sorted(expected)
        # count-star and filter through the same filter too
        assert dl.table("main.big").count() == n_files * 2
        assert dl.table("main.big").filter("id >= 100").count() == \
            sum(1 for x in expected if x >= 100)


class TestRowid:
    def test_rowid_with_deletes(self, spark, tmp_path):
        """Virtual rowid = row_id_start + file position, stable across
        files and preserved through MOR delete filtering."""
        from datafusion_ducklake_spark.errors import InvalidConfig
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "rid", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        tdir = cat.table_dir("main", "rid")
        f1, z1 = write_data_file(tdir, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")])
        fid1 = cat.data_file(tid, f1, z1, s1, 3, row_id_start=0)
        f2, z2 = write_data_file(tdir, [(4, "d", "w")])
        cat.data_file(tid, f2, z2, s1, 1, row_id_start=3)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, f1, [1])
        cat.delete_file(tid, fid1, dname, dsize, 1, s2)

        dl = DuckLakeSession(spark, cat.db_path)
        rows = sorted((r["id"], r["rowid"]) for r in
                      dl.table("main.rid", with_rowid=True).collect())
        assert rows == [(1, 0), (3, 2), (4, 3)]  # rowid 1 deleted, gap kept

    def test_rowid_requires_catalog_support(self, spark, tmp_path):
        from datafusion_ducklake_spark.errors import InvalidConfig
        cat = FixtureCatalog(tmp_path)
        s1 = cat.snapshot()
        sid = cat.schema("main", s1)
        tid = cat.table(sid, "main", "nr", s1)
        cat.column(tid, 1, "id", "int32", 0, s1)
        cat.column(tid, 2, "name", "varchar", 1, s1)
        cat.column(tid, 3, "email", "varchar", 2, s1)
        f, z = write_data_file(cat.table_dir("main", "nr"), [(1, "a", "x")])
        cat.data_file(tid, f, z, s1, 1)  # no row_id_start
        dl = DuckLakeSession(spark, cat.db_path)
        with pytest.raises(InvalidConfig, match="row_id_start"):
            dl.table("main.nr", with_rowid=True)


def test_numeric_metadata_validation(spark, tmp_path):
    """ref: numeric_metadata_validation_tests.rs — a negative
    file_size_bytes fails loudly naming the value; a negative
    footer_size is a hint and is gracefully skipped."""
    import pytest as _pytest

    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import CatalogCorruption
    from tests.ducklake_fixtures import FixtureCatalog, write_data_file

    cat = FixtureCatalog(str(tmp_path))
    s1 = cat.snapshot()
    sid = cat.schema("main", s1)
    tid = cat.table(sid, "main", "items", s1)
    cat.column(tid, 1, "id", "int32", 0, s1)
    cat.column(tid, 2, "name", "varchar", 1, s1)
    cat.column(tid, 3, "email", "varchar", 2, s1)
    tdir = cat.table_dir("main", "items")
    name, size = write_data_file(tdir, [(1, "a", "a@x")],
                                 names=("id", "name", "email"))
    fid = cat.data_file(tid, name, size, s1, 1)
    # negative footer_size: skipped, scan succeeds
    cat.conn.execute(
        "UPDATE ducklake_data_file SET footer_size = -5 "
        "WHERE data_file_id = ?", (fid,))
    cat.conn.commit()
    dl = DuckLakeSession(spark, cat.db_path)
    assert dl.table("main.items").count() == 1
    # negative file_size_bytes: clear corruption error naming the value
    cat.conn.execute(
        "UPDATE ducklake_data_file SET file_size_bytes = -1 "
        "WHERE data_file_id = ?", (fid,))
    cat.conn.commit()
    dl2 = DuckLakeSession(spark, cat.db_path)
    with _pytest.raises(CatalogCorruption, match="-1"):
        dl2.table("main.items").count()


def test_delete_file_with_extra_columns(spark, tmp_path):
    """sql/delete/delete_ignore_extra_columns.test: a positional-delete
    parquet carrying EXTRA columns beyond (file_path, pos) — the shape
    iceberg-style writers produce (row payload, spec ids) — still
    applies; the MOR reader projects only pos and ignores the rest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from tests.ducklake_fixtures import FixtureCatalog, write_data_file

    cat = FixtureCatalog(str(tmp_path))
    s1 = cat.snapshot()
    schema_id = cat.schema("main", s1)
    tid = cat.table(schema_id, "main", "users", s1)
    cat.column(tid, 1, "id", "int32", 0, s1)
    cat.column(tid, 2, "name", "varchar", 1, s1)
    cat.column(tid, 3, "email", "varchar", 2, s1)
    tdir = cat.table_dir("main", "users")
    rows = [(i, f"u{i}", "x") for i in range(6)]
    fname, fsize = write_data_file(tdir, rows)
    fid = cat.data_file(tid, fname, fsize, s1, len(rows))

    s2 = cat.snapshot()
    dname = "ducklake-delete-extra.parquet"
    pq.write_table(pa.table({
        "file_path": pa.array([fname] * 2, pa.string()),
        "pos": pa.array([1, 4], pa.int64()),
        # extra columns an external writer might carry
        "row": pa.array(["dropped-a", "dropped-b"], pa.string()),
        "partition_spec_id": pa.array([0, 0], pa.int32()),
    }), f"{tdir}/{dname}")
    cat.delete_file(tid, fid, dname, 10, 2, s2)
    cat.conn.close()

    dl = DuckLakeSession(spark, cat.db_path)
    got = sorted(r["id"] for r in dl.table("main.users").collect())
    assert got == [0, 2, 3, 5]


def test_scan_plan_statistics_track_catalog_sizes(spark, tmp_path):
    """sql/stats/cardinality.test analog: DuckDB propagates the catalog's
    record_count into EXPLAIN (~1,000). Spark's optimizer consumes
    sizeInBytes; assert the scan plan's estimate tracks the catalog's
    registered file bytes (same property: the optimizer sees REAL scan
    magnitude, so broadcast/join decisions are grounded), and that the
    catalog itself reports the exact cardinality."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "card.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "cardlake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.range(1000).selectExpr(
        "CAST(id AS INT) AS i"))

    # exact cardinality in the catalog surface
    info = dl.sql("SELECT sum(record_count) AS n FROM ducklake_list_files() "
                  "WHERE table_name = 't'").collect()
    assert info[0]["n"] == 1000

    catalog_bytes = dl.sql(
        "SELECT sum(file_size_bytes) AS b FROM ducklake_list_files() "
        "WHERE table_name = 't'").collect()[0]["b"]
    plan_bytes = int(dl.table("main.t")._jdf.queryExecution()
                     .optimizedPlan().stats().sizeInBytes())
    # Spark scales file size to an in-memory estimate; same order of
    # magnitude proves the estimate is file-grounded, not a default
    assert 0 < plan_bytes <= catalog_bytes * 20
    assert plan_bytes >= catalog_bytes // 20


class TestDeleteBitset:
    """The merge-on-read filter: each dirty file's delete positions are a
    driver-held bitset tested inside the scan stage."""

    @staticmethod
    def _one_dirty_file(tmp_path, n_rows, positions, row_group_size=None):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from tests.ducklake_fixtures import users_arrow_schema
        cat, tdir, tid = _users_table(tmp_path)
        fname = "ducklake-data-0.parquet"
        path = os.path.join(tdir, fname)
        pq.write_table(pa.table({
            "id": pa.array(range(n_rows), pa.int32()),
            "name": pa.array([f"u{i}" for i in range(n_rows)], pa.string()),
            "email": pa.array([f"e{i % 7}" for i in range(n_rows)],
                              pa.string())}, schema=users_arrow_schema()),
            path, row_group_size=row_group_size)
        fid = cat.data_file(tid, fname, os.path.getsize(path), 1, n_rows,
                            row_id_start=0)
        s2 = cat.snapshot()
        dname, dsize = write_delete_file(tdir, fname, positions)
        cat.delete_file(tid, fid, dname, dsize, len(positions), s2)
        return cat, path, os.path.join(tdir, dname)

    def test_dirty_read_runs_as_many_jobs_as_clean(self, spark, tmp_path):
        # regression guard: the delete filter adds no Spark job to a read
        cat, _, _ = self._one_dirty_file(tmp_path, 1000, [3, 500, 999])
        sc = spark.sparkContext

        def jobs(snapshot, group):
            dl = DuckLakeSession(spark, cat.db_path, snapshot_id=snapshot)
            sc.setJobGroup(group, group)
            try:
                row = dl.sql("SELECT count(*) AS n, sum(id) AS s "
                             "FROM main.t").collect()[0]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return (row["n"], row["s"]), \
                len(sc.statusTracker().getJobIdsForGroup(group))

        clean, clean_jobs = jobs(1, "bitset-clean")
        dirty, dirty_jobs = jobs(2, "bitset-dirty")
        assert clean == (1000, sum(range(1000)))
        assert dirty == (997, sum(range(1000)) - 3 - 500 - 999)
        assert dirty_jobs == clean_jobs

    def test_word_boundary_positions(self, spark, tmp_path):
        # bits 0 and 63 of word 0, both ends of word 1, a fully deleted
        # word 2 (positions 128..191) and the file's last row
        n = 250
        gone = {0, 63, 64, 127, n - 1} | set(range(128, 192))
        cat, _, _ = self._one_dirty_file(tmp_path, n, sorted(gone))
        dl = DuckLakeSession(spark, cat.db_path)
        live = [i for i in range(n) if i not in gone]
        assert ids(dl.table("main.t")) == live
        # the rowid scan filters through the same bitset (row_id_start 0:
        # rowid = position = id)
        assert sorted(tuple(r) for r in dl.table(
            "main.t", with_rowid=True).select("id", "rowid").collect()) \
            == [(i, i) for i in live]

    def test_multi_row_group_pushed_filter_matches_duckdb(self, spark,
                                                          tmp_path):
        # positions are file-global across row groups, so a pushed-down
        # filter on another column (row-group skipping) must not shift them
        import duckdb
        n = 5000
        positions = sorted(set(range(0, n, 3)) | set(range(1000, 1400)))
        cat, data, dels = self._one_dirty_file(tmp_path, n, positions,
                                               row_group_size=512)
        got = sorted(tuple(r) for r in DuckLakeSession(
            spark, cat.db_path).sql(
            "SELECT id, name FROM main.t WHERE email = 'e3' "
            "AND id >= 1200").collect())
        want = sorted(duckdb.sql(
            f"SELECT id, name FROM read_parquet('{data}', "
            f"file_row_number = true) WHERE email = 'e3' AND id >= 1200 "
            f"AND file_row_number NOT IN "
            f"(SELECT pos FROM read_parquet('{dels}'))").fetchall())
        assert got == want and len(want) > 100

    def test_awkward_and_repeated_file_names(self, spark, tmp_path):
        # one scan tells dirty files apart by Spark's (URL-encoded) file
        # name: names needing encoding, and one name in two directories,
        # must each get their own delete file
        import os

        import pyarrow.parquet as pq

        from tests.ducklake_fixtures import users_arrow_schema
        cat, tdir, tid = _users_table(tmp_path)
        layout = [("a/part 0%.parquet", [0, 2]), ("b/part 0%.parquet", [1]),
                  ("c/part 0%.parquet", None), ("it's.parquet", [3])]
        want = []
        for i, (rel, dels) in enumerate(layout):
            os.makedirs(os.path.dirname(os.path.join(tdir, rel)),
                        exist_ok=True)
            rows = [(10 * i + j, f"u{j}", "x") for j in range(4)]
            pq.write_table(pa_table(rows, users_arrow_schema()),
                           os.path.join(tdir, rel))
            fid = cat.data_file(tid, rel, 1, 1, len(rows))
            if dels is not None:
                dname, dsize = write_delete_file(tdir, rel, dels)
                cat.delete_file(tid, fid, dname, dsize, len(dels), 1)
            want += [r[0] for j, r in enumerate(rows)
                     if j not in (dels or [])]
        assert ids(DuckLakeSession(spark, cat.db_path).table("main.t")) \
            == sorted(want)
