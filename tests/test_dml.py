"""MOR DML tests: DELETE / UPDATE / MERGE INTO (operators/dml.py).

Round-trip checks run through our own scan AND through DuckDB reading the
registered parquet + delete files directly (the artifacts must be
readable by the other engine — that's the DuckLake contract), plus CDC
and time-travel interactions.
"""

from __future__ import annotations

import os

import duckdb
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
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i % 5), i * 1.5) for i in range(20)],
        "id INT, tag STRING, v DOUBLE")
    session.create_table("main.t", df)
    return session


def _ids(session, name="main.t"):
    return sorted(r["id"] for r in session.table(name).collect())


def test_delete_basic(dl):
    n = dl.delete_from("main.t", "id % 3 = 0")
    assert n == 7                      # 0,3,6,9,12,15,18
    assert _ids(dl) == [i for i in range(20) if i % 3 != 0]


def test_delete_is_cumulative_and_superseding(dl):
    dl.delete_from("main.t", "id < 5")
    n2 = dl.delete_from("main.t", "id >= 15")
    assert n2 == 5
    assert _ids(dl) == list(range(5, 15))
    # exactly one LIVE delete file per touched data file, cumulative count
    handle = dl.table_handle("main.t")
    dels = [f.delete_file for f in handle._raw_files
            if f.delete_file is not None]
    assert sum(d.delete_count for d in dels) == 10


def test_delete_artifacts_read_back_in_duckdb(dl, tmp_path):
    """DuckDB applying (file_path, pos) anti-join over our artifacts sees
    the same surviving rows — cross-engine on-disk contract."""
    dl.delete_from("main.t", "tag = 'a'")
    handle = dl.table_handle("main.t")
    con = duckdb.connect()
    survivors = set()
    for f in handle._raw_files:
        data = os.path.join(handle.table_path, f.path)
        if f.delete_file is None:
            rows = con.sql(f"SELECT id FROM read_parquet('{data}')").fetchall()
        else:
            dpath = os.path.join(handle.table_path, f.delete_file.path)
            rows = con.sql(f"""
                SELECT id FROM (
                  SELECT *, row_number() OVER () - 1 AS pos
                  FROM read_parquet('{data}')) d
                WHERE pos NOT IN (
                  SELECT pos FROM read_parquet('{dpath}'))
            """).fetchall()
        survivors.update(r[0] for r in rows)
    con.close()
    assert sorted(survivors) == _ids(dl)


def test_delete_zero_matches_is_noop(dl):
    before = [s.snapshot_id for s in dl.provider.list_snapshots()]
    assert dl.delete_from("main.t", "id > 1000") == 0
    after = [s.snapshot_id for s in dl.provider.list_snapshots()]
    assert before == after             # no empty snapshot


def test_delete_time_travel(dl):
    snap = dl.provider.get_current_snapshot()
    dl.delete_from("main.t", "id < 10")
    old = DuckLakeSession(dl.spark, dl.catalog_path, snapshot_id=snap)
    assert sorted(r["id"] for r in old.table("main.t").collect()) == \
        list(range(20))
    assert _ids(dl) == list(range(10, 20))


def test_delete_shows_in_cdc(dl):
    start = dl.provider.get_current_snapshot()
    dl.delete_from("main.t", "id = 7")
    end = dl.provider.get_current_snapshot()
    dels = dl.table_deletions("main.t", start, end).collect()
    assert [r["id"] for r in dels] == [7]


def test_update_basic(dl):
    n = dl.update_where("main.t", {"v": "v * 10"}, "id < 3")
    assert n == 3
    got = {r["id"]: r["v"] for r in dl.table("main.t").collect()}
    assert got[0] == 0.0 and got[1] == 15.0 and got[2] == 30.0
    assert got[5] == 7.5               # untouched row keeps its value
    assert len(got) == 20              # row count preserved


def test_update_unknown_column_rejected(dl):
    with pytest.raises(InvalidConfig):
        dl.update_where("main.t", {"nope": "1"}, "id = 1")


def test_update_after_delete_only_touches_live_rows(dl):
    dl.delete_from("main.t", "id >= 10")
    n = dl.update_where("main.t", {"tag": "'z'"}, "id % 2 = 0")
    assert n == 5                      # 0,2,4,6,8 — not the deleted evens
    tags = {r["id"]: r["tag"] for r in dl.table("main.t").collect()}
    assert all(tags[i] == "z" for i in (0, 2, 4, 6, 8))
    assert len(tags) == 10


def test_merge_update_insert(dl, spark):
    source = spark.createDataFrame(
        [(1, "upd", 100.0), (2, "upd", 200.0), (50, "new", 500.0)],
        "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into("main.t", source, on=["id"],
                           when_matched_update="source")
    assert counts == {"updated": 2, "deleted": 0, "inserted": 1}
    got = {r["id"]: (r["tag"], r["v"]) for r in dl.table("main.t").collect()}
    assert got[1] == ("upd", 100.0)
    assert got[2] == ("upd", 200.0)
    assert got[50] == ("new", 500.0)
    assert len(got) == 21


def test_merge_delete_matches(dl, spark):
    source = spark.createDataFrame([(3,), (4,), (99,)], "id INT")
    counts = dl.merge_into("main.t", source, on=["id"],
                           when_matched_delete=True,
                           when_not_matched_insert=False)
    assert counts["deleted"] == 2 and counts["inserted"] == 0
    assert _ids(dl) == [i for i in range(20) if i not in (3, 4)]


def test_merge_insert_only(dl, spark):
    source = spark.createDataFrame(
        [(5, "x", 0.0), (30, "x", 1.0)], "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into("main.t", source, on=["id"])
    assert counts == {"updated": 0, "deleted": 0, "inserted": 1}
    assert 30 in _ids(dl)
    got = {r["id"]: r["tag"] for r in dl.table("main.t").collect()}
    assert got[5] != "x"               # match left untouched


def test_merge_custom_update_expr(dl, spark):
    source = spark.createDataFrame([(1, 5.0)], "id INT, bump DOUBLE")
    counts = dl.merge_into(
        "main.t", source, on=["id"],
        when_matched_update={"v": "v + src.bump"},
        when_not_matched_insert=False)
    assert counts["updated"] == 1
    got = {r["id"]: r["v"] for r in dl.table("main.t").collect()}
    assert got[1] == 1.5 + 5.0


# --- extended clause forms (merge_into_tpch.test_slow parity) ------------

def test_merge_conditional_matched_update(dl, spark):
    source = spark.createDataFrame(
        [(1, "u", 0.0), (2, "u", 0.0)], "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into(
        "main.t", source, on=["id"], when_matched_update="source",
        when_not_matched_insert=False, when_matched_pred="tgt.id = 2")
    assert counts == {"updated": 1, "deleted": 0, "inserted": 0}
    got = {r["id"]: r["tag"] for r in dl.table("main.t").collect()}
    assert got[2] == "u" and got[1] != "u"   # pred-failing match untouched


def test_merge_conditional_insert(dl, spark):
    source = spark.createDataFrame(
        [(30, "x", 1.0), (31, "x", 1.0), (32, "x", 1.0)],
        "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into(
        "main.t", source, on=["id"],
        when_not_matched_pred="src.id % 2 = 0")
    assert counts["inserted"] == 2
    assert 31 not in _ids(dl) and {30, 32} <= set(_ids(dl))


def test_merge_matched_error_aborts_before_write(dl, spark):
    from datafusion_ducklake_spark.errors import MergeActionError
    before = _ids(dl)
    source = spark.createDataFrame(
        [(5, "x", 0.0), (90, "x", 0.0)], "id INT, tag STRING, v DOUBLE")
    with pytest.raises(MergeActionError):
        dl.merge_into("main.t", source, on=["id"],
                      when_matched_error=True)
    assert _ids(dl) == before            # nothing written, no snapshot
    # disjoint keys pass the guard and insert normally
    source2 = spark.createDataFrame(
        [(91, "x", 0.0)], "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into("main.t", source2, on=["id"],
                           when_matched_error=True)
    assert counts["inserted"] == 1


def test_merge_by_source_delete_equalizes(dl, spark):
    source = spark.createDataFrame(
        [(1, "s", 10.0), (2, "s", 20.0), (77, "s", 77.0)],
        "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into(
        "main.t", source, on=["id"], when_matched_update="source",
        by_source_delete=True)
    assert counts["updated"] == 2 and counts["inserted"] == 1
    assert counts["deleted"] == 18       # the other original rows
    got = sorted((r["id"], r["tag"], r["v"])
                 for r in dl.table("main.t").collect())
    assert got == [(1, "s", 10.0), (2, "s", 20.0), (77, "s", 77.0)]


def test_merge_duplicate_not_matched_clause_rejected(dl):
    with pytest.raises(InvalidConfig, match="one NOT MATCHED insert"):
        dl.sql("MERGE INTO main.t USING main.t s USING (id) "
               "WHEN NOT MATCHED AND s.id > 5 THEN INSERT "
               "WHEN NOT MATCHED THEN INSERT")


def test_merge_error_after_consuming_action_does_not_fire(dl, spark):
    # first-match-wins: an unconditional UPDATE consumes every match, so
    # a later THEN ERROR can never see a row
    dl.create_table("main.esrc", spark.createDataFrame(
        [(1, "e", 1.0)], "id INT, tag STRING, v DOUBLE"))
    dl.sql("MERGE INTO main.t USING main.esrc USING (id) "
           "WHEN MATCHED THEN UPDATE WHEN MATCHED THEN ERROR")
    got = {r["id"]: r["tag"] for r in dl.table("main.t").collect()}
    assert got[1] == "e"
    # a predicate-gated action exempts only its rows: a remaining match
    # still trips the ERROR
    from datafusion_ducklake_spark.errors import MergeActionError
    dl.create_table("main.esrc2", spark.createDataFrame(
        [(2, "f", 1.0), (3, "f", 1.0)], "id INT, tag STRING, v DOUBLE"))
    with pytest.raises(MergeActionError):
        dl.sql("MERGE INTO main.t USING main.esrc2 USING (id) "
               "WHEN MATCHED AND t.id = 2 THEN UPDATE "
               "WHEN MATCHED THEN ERROR")


def test_merge_pred_absent_side_refs_evaluate_null(dl, spark):
    # upstream evaluates references to the absent side's columns as NULL
    # (a NOT MATCHED BY SOURCE row has no source row; a NOT MATCHED
    # insert row has no target row) — r7 ADVICE: we raised instead
    source = spark.createDataFrame(
        [(1, "s", 10.0)], "id INT, tag STRING, v DOUBLE")
    before = _ids(dl)
    counts = dl.merge_into(
        "main.t", source, on=["id"], when_not_matched_insert=False,
        by_source_delete=True, by_source_pred="src.v > 0")
    assert counts["deleted"] == 0 and _ids(dl) == before  # NULL not TRUE
    # MIXED predicate: an UNQUALIFIED present-side column (id exists on
    # BOTH sides — merge keys always do) combined with an absent-side
    # ref; a cross-joined null relation would make `id` ambiguous here
    counts = dl.merge_into(
        "main.t", source, on=["id"], when_not_matched_insert=False,
        by_source_delete=True,
        by_source_pred="id >= 18 AND src.v IS NULL")
    assert counts["deleted"] == 2
    assert _ids(dl) == [i for i in before if i < 18]
    # insert predicate referencing the (absent) target side
    src2 = spark.createDataFrame(
        [(50, "n", 5.0)], "id INT, tag STRING, v DOUBLE")
    counts = dl.merge_into("main.t", src2, on=["id"],
                           when_not_matched_pred="tgt.tag IS NULL")
    assert counts["inserted"] == 1 and 50 in _ids(dl)
    # a column that exists on NEITHER side still fails loudly
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        dl.merge_into("main.t", src2, on=["id"],
                      when_not_matched_pred="src.nope = 1")


def test_merge_sql_using_key_list_and_by_source(dl, spark):
    dl.create_table("main.src2", spark.createDataFrame(
        [(0, "a", 0.0), (25, "z", 2.5)], "id INT, tag STRING, v DOUBLE"))
    dl.sql("MERGE INTO main.t USING main.src2 USING (id) "
           "WHEN NOT MATCHED BY TARGET THEN INSERT "
           "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert _ids(dl) == [0, 25]


def test_update_preserves_sql_view_consistency(dl):
    dl.update_where("main.t", {"v": "0.0"}, "tag = 'b'")
    dl.register_views()
    n = dl.sql("SELECT count(*) AS n FROM t WHERE v = 0.0").collect()[0]["n"]
    # tag 'b' rows: ids 1,6,11,16 (4 rows) + id 0 (v=0.0 originally)
    assert n == 5


def test_sql_delete(dl):
    out = dl.sql("DELETE FROM main.t WHERE id < 5").collect()
    assert out[0]["count"] == 5
    assert _ids(dl) == list(range(5, 20))


def test_sql_update(dl):
    out = dl.sql("UPDATE t SET v = v + 1, tag = upper(tag) WHERE id = 7").collect()
    assert out[0]["count"] == 1
    got = {r["id"]: (r["tag"], r["v"]) for r in dl.table("main.t").collect()}
    assert got[7] == ("C", 11.5)       # 7 % 5 = 2 -> 'c'; v = 10.5 + 1


def test_sql_insert_values(dl):
    out = dl.sql("INSERT INTO main.t VALUES (100, 'q', 1.0)").collect()
    assert out[0]["count"] == 1
    assert 100 in _ids(dl)


def test_sql_insert_select(dl):
    out = dl.sql(
        "INSERT INTO t SELECT id + 200, tag, v FROM t WHERE id < 2").collect()
    assert out[0]["count"] == 2
    ids = _ids(dl)
    assert 200 in ids and 201 in ids and len(ids) == 22


def test_sql_insert_cte(dl):
    out = dl.sql(
        "INSERT INTO t WITH src AS (SELECT id + 300 AS id, tag, v FROM t "
        "WHERE id < 3) SELECT * FROM src").collect()
    assert out[0]["count"] == 3
    ids = _ids(dl)
    assert {300, 301, 302} <= set(ids) and len(ids) == 23


def test_sql_delete_without_where_deletes_all(dl):
    dl.sql("DELETE FROM main.t")
    assert _ids(dl) == []


def test_sql_select_still_works_after_dml(dl):
    dl.sql("DELETE FROM main.t WHERE id >= 10")
    n = dl.sql("SELECT count(*) AS n FROM main.t").collect()[0]["n"]
    assert n == 10


def test_compact_after_dml_preserves_rowids(dl):
    """Our own DML delete files feed the catalog-derived run discovery:
    compaction rewrites survivors into per-run files with stable rowids."""
    dl.delete_from("main.t", "id IN (2, 3, 11)")
    before = sorted((r["id"], r["rowid"]) for r in
                    dl.table("main.t", with_rowid=True).collect())
    n = dl.compact("main.t")
    assert n == 17
    after = sorted((r["id"], r["rowid"]) for r in
                   dl.table("main.t", with_rowid=True).collect())
    assert after == before
    handle = dl.table_handle("main.t")
    assert all(f.delete_file is None for f in handle._raw_files)
    starts = sorted(f.row_id_start for f in handle._raw_files)
    assert starts == [0, 4, 12]        # runs [0,1],[4..10],[12..19]


# -- SQL MERGE INTO routing (sql/merge/ corpus shape) -----------------------

def test_sql_merge_update_insert(dl, spark):
    spark.createDataFrame(
        [(3, "zz", 100.0), (4, "yy", 200.0), (50, "new", 1.0)],
        "id INT, tag STRING, v DOUBLE").createOrReplaceTempView("mrg_src")
    out = dl.sql(
        "MERGE INTO main.t AS t USING mrg_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET tag = s.tag, v = s.v + t.v "
        "WHEN NOT MATCHED THEN INSERT").collect()
    assert out[0]["count"] == 3        # 2 updated + 1 inserted
    got = {r["id"]: (r["tag"], r["v"]) for r in dl.table("main.t").collect()}
    assert got[3] == ("zz", 100.0 + 4.5)
    assert got[4] == ("yy", 200.0 + 6.0)
    assert got[50] == ("new", 1.0)
    assert len(got) == 21


def test_sql_merge_delete_from_subquery(dl):
    out = dl.sql(
        "MERGE INTO t USING (SELECT id FROM t WHERE id % 2 = 0) AS evens "
        "ON t.id = evens.id WHEN MATCHED THEN DELETE").collect()
    assert out[0]["count"] == 10
    assert _ids(dl) == [i for i in range(20) if i % 2 == 1]


def test_sql_merge_insert_only(dl, spark):
    spark.createDataFrame([(0, "dup", 0.0), (99, "n", 9.0)],
                          "id INT, tag STRING, v DOUBLE") \
        .createOrReplaceTempView("mrg_src2")
    out = dl.sql(
        "MERGE INTO main.t USING mrg_src2 s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *").collect()
    assert out[0]["count"] == 1        # id 0 matched -> untouched
    got = {r["id"] for r in dl.table("main.t").collect()}
    assert 99 in got and len(got) == 21


def test_sql_merge_rejects_non_equi_on(dl):
    with pytest.raises(InvalidConfig):
        dl.sql("MERGE INTO t USING t AS s ON t.id < s.id "
               "WHEN MATCHED THEN DELETE")


def _foreign_delete(dl, predicate, path_style):
    """Write + register a delete file the way a FOREIGN writer would:
    the parquet ``file_path`` column holds an absolute path / URI, not
    the basename our own writer uses (that column is documentation-only
    per the DuckLake contract, ref src/table.rs:84-85)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    handle = dl.table_handle("main.t")
    assert len(handle._raw_files) == 1
    raw = handle._raw_files[0]
    data_path = os.path.join(handle.table_path, raw.path)
    ids = pq.read_table(data_path, columns=["id"]).column("id").to_pylist()
    positions = [i for i, v in enumerate(ids) if predicate(v)]
    doc_path = {"absolute": data_path,
                "uri": "file://" + data_path,
                "basename": os.path.basename(data_path)}[path_style]
    name = f"ducklake-delete-{uuid.uuid4()}.parquet"
    dest = os.path.join(handle.table_path, name)
    pq.write_table(pa.table({
        "file_path": pa.array([doc_path] * len(positions), pa.string()),
        "pos": pa.array(positions, pa.int64())}), dest)
    w = CatalogWriter.sqlite(dl.catalog_path)
    try:
        sid = w.create_snapshot()
        w.register_delete_file(handle.meta.table_id, raw.data_file_id, sid,
                               name, True, os.path.getsize(dest),
                               len(positions))
    finally:
        w.close()
    dl.refresh()
    return [v for v in ids if predicate(v)]


@pytest.mark.parametrize("path_style", ["absolute", "uri", "basename"])
def test_dml_over_foreign_delete_file_does_not_resurrect(dl, path_style):
    """DELETE on a table whose EXISTING delete file stores full paths in
    its file_path column (as DuckDB/Iceberg-compatible writers do) must
    carry those positions forward — regression for keying existing
    deletes off the unreliable file_path column instead of the catalog
    delete-file -> data-file pairing."""
    _foreign_delete(dl, lambda v: v < 5, path_style)
    assert _ids(dl) == list(range(5, 20))        # scan path honors it
    n = dl.delete_from("main.t", "id >= 15")
    assert n == 5
    # the buggy version resurrects 0..4 here (anti-join misses + the
    # cumulative rewrite drops the foreign positions)
    assert _ids(dl) == list(range(5, 15))


def test_update_over_foreign_delete_file(dl):
    _foreign_delete(dl, lambda v: v % 2 == 0, "absolute")
    live = [v for v in range(20) if v % 2 == 1]
    assert _ids(dl) == live
    n = dl.update_where("main.t", {"v": "v + 100.0"}, "id < 10")
    assert n == 5                                 # 1,3,5,7,9
    rows = {r["id"]: r["v"] for r in dl.table("main.t").collect()}
    assert sorted(rows) == live
    for i in live:
        assert rows[i] == pytest.approx(i * 1.5 + (100.0 if i < 10 else 0.0))


def test_dml_over_foreign_delete_duckdb_readback(dl):
    """After our DELETE over a foreign-style delete file, DuckDB applying
    the LIVE cumulative delete file sees the same survivors."""
    _foreign_delete(dl, lambda v: v < 5, "absolute")
    dl.delete_from("main.t", "id >= 15")
    handle = dl.table_handle("main.t")
    raw = handle._raw_files[0]
    assert raw.delete_file is not None
    data = os.path.join(handle.table_path, raw.path)
    dpath = os.path.join(handle.table_path, raw.delete_file.path)
    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT id FROM (
          SELECT *, row_number() OVER () - 1 AS pos
          FROM read_parquet('{data}')) d
        WHERE pos NOT IN (SELECT pos FROM read_parquet('{dpath}'))
    """).fetchall()
    con.close()
    assert sorted(r[0] for r in rows) == list(range(5, 15))


def test_compact_preserves_rowids_on_schemed_path(spark, tmp_path):
    """compact() through a file:// (scheme'd) table path: run finalize
    must go through the Hadoop FS route (an s3a://hdfs:// deployment uses
    the identical code path), preserving rowids."""
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=f"file://{tmp_path}/lake")
    w.close()
    dl = DuckLakeSession(spark, db)
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i % 5), i * 1.5) for i in range(20)],
        "id INT, tag STRING, v DOUBLE")
    dl.create_table("main.t", df)
    dl.delete_from("main.t", "id IN (2, 3, 11)")
    before = sorted((r["id"], r["rowid"]) for r in
                    dl.table("main.t", with_rowid=True).collect())
    n = dl.compact("main.t")
    assert n == 17
    after = sorted((r["id"], r["rowid"]) for r in
                   dl.table("main.t", with_rowid=True).collect())
    assert after == before
    handle = dl.table_handle("main.t")
    assert handle.table_path.startswith("file://")
    assert all(f.delete_file is None for f in handle._raw_files)
    assert sorted(f.row_id_start for f in handle._raw_files) == [0, 4, 12]


def test_compact_over_foreign_delete_file(dl):
    """Run discovery must key foreign-style delete files (absolute paths
    in the file_path column) via the catalog pairing."""
    _foreign_delete(dl, lambda v: v in (2, 3, 11), "absolute")
    before = sorted((r["id"], r["rowid"]) for r in
                    dl.table("main.t", with_rowid=True).collect())
    n = dl.compact("main.t")
    assert n == 17
    after = sorted((r["id"], r["rowid"]) for r in
                   dl.table("main.t", with_rowid=True).collect())
    assert after == before


def test_merge_executes_source_join_once(dl, spark):
    """The merge's source must be evaluated exactly once (persisted):
    counts come from write manifests, not repeated .count() actions that
    would re-execute the source-target join."""
    acc = spark.sparkContext.accumulator(0)
    base = spark.createDataFrame(
        [(1, "upd", 100.0), (50, "new", 500.0)],
        "id INT, tag STRING, v DOUBLE")

    def tick(it):
        for pdf in it:
            acc.add(1)
            yield pdf

    source = base.repartition(1).mapInPandas(tick, base.schema)
    counts = dl.merge_into("main.t", source, on=["id"],
                           when_matched_update="source")
    assert counts == {"updated": 1, "deleted": 0, "inserted": 1}
    got = {r["id"]: r["v"] for r in dl.table("main.t").collect()}
    assert got[1] == 100.0 and got[50] == 500.0 and len(got) == 21
    assert acc.value == 1, f"source evaluated {acc.value} times"


def test_foreign_delete_file_with_extra_columns(spark, tmp_path):
    """Iceberg-style positional-delete files may carry EXTRA columns
    beyond (file_path, pos) — the scan must ignore them (corpus:
    sql/delete/delete_ignore_extra_columns.test)."""
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter

    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame(
        [(i,) for i in range(10)], "id INT"))
    handle = dl.table_handle("main.t")
    [f] = handle._raw_files
    tdir = os.path.dirname(
        handle.files[0].data_uri[len("file://"):]
        if handle.files[0].data_uri.startswith("file://")
        else handle.files[0].data_uri)
    dname = f"ducklake-delete-{_uuid.uuid4()}.parquet"
    dpath = os.path.join(tdir, dname)
    pq.write_table(pa.table({
        "file_path": pa.array([f.path, f.path], pa.string()),
        "pos": pa.array([0, 3], pa.int64()),
        "row": pa.array([b"x", b"y"], pa.binary()),      # extra columns
        "partition_hint": pa.array([7, 7], pa.int32())}), dpath)
    import sqlite3
    conn = sqlite3.connect(db)
    conn.execute(
        "INSERT INTO ducklake_delete_file (delete_file_id, table_id, "
        "data_file_id, path, path_is_relative, file_size_bytes, "
        "delete_count, begin_snapshot) VALUES (1, ?, ?, ?, 1, ?, 2, ?)",
        (handle.meta.table_id, f.data_file_id, dname,
         os.path.getsize(dpath), dl.provider.get_current_snapshot()))
    conn.commit()
    conn.close()
    dl2 = DuckLakeSession(spark, db)
    assert sorted(r["id"] for r in dl2.table("main.t").collect()) == \
        [1, 2, 4, 5, 6, 7, 8, 9]
    # and DML over it keys existing deletes through the catalog pairing
    assert dl2.delete_from("main.t", "id = 5") == 1
    dl3 = DuckLakeSession(spark, db)
    assert sorted(r["id"] for r in dl3.table("main.t").collect()) == \
        [1, 2, 4, 6, 7, 8, 9]


def _add_parquet(session, name, path, ids):
    """Write ``ids`` as an INTEGER ``id`` parquet at ``path`` and register
    it with add_files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(list(ids), pa.int32())}), path)
    session.add_files(name, [str(path)])
    session.refresh()


def test_same_basename_in_two_directories(dl, tmp_path):
    """Matched positions key to the resolved data file, not its basename:
    two add_files'd ``x.parquet`` in different directories each get
    their own delete file."""
    dl.create_empty_table("main.af", "id INTEGER")
    _add_parquet(dl, "main.af", tmp_path / "a" / "x.parquet", range(4))
    _add_parquet(dl, "main.af", tmp_path / "b" / "x.parquet", range(10, 14))
    assert dl.delete_from("main.af", "id = 11") == 1
    assert dl.delete_from("main.af", "id = 2") == 1
    assert _ids(dl, "main.af") == [0, 1, 3, 10, 12, 13]


@pytest.mark.parametrize("path", ["dml", "grouped_read"])
def test_names_needing_url_encoding(dl, tmp_path, path):
    """A data file whose name Spark reports URL-encoded (``part 0%``)
    takes deletes through DML, and its delete positions reach it when it
    is one of many (17) dirty files in the scan."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    dl.create_empty_table("main.enc", "id INTEGER")
    _add_parquet(dl, "main.enc", tmp_path / "d" / "part 0%.parquet", range(4))
    _add_parquet(dl, "main.enc", tmp_path / "d" / "q.parquet", range(10, 14))
    # fifteen one-row files, each fully deleted below: 17 dirty files
    for k in range(15):
        _add_parquet(dl, "main.enc", tmp_path / "d" / f"r{k}.parquet",
                     [100 + k])
    if path == "dml":
        assert dl.delete_from("main.enc", "id >= 100") == 15
        assert dl.delete_from("main.enc", "id IN (0, 2, 11)") == 3
    else:
        # register the delete files directly, as a foreign writer would
        handle = dl.table_handle("main.enc")
        w = CatalogWriter.sqlite(dl.catalog_path)
        try:
            sid = w.create_snapshot()
            for raw, positions in zip(handle._raw_files,
                                      [[0, 2], [1]] + [[0]] * 15):
                name = f"ducklake-delete-{uuid.uuid4()}.parquet"
                dest = os.path.join(handle.table_path, name)
                os.makedirs(handle.table_path, exist_ok=True)
                pq.write_table(pa.table({
                    "file_path": pa.array([raw.path] * len(positions)),
                    "pos": pa.array(positions, pa.int64())}), dest)
                w.register_delete_file(
                    handle.meta.table_id, raw.data_file_id, sid, name, True,
                    os.path.getsize(dest), len(positions))
        finally:
            w.close()
        dl.refresh()
    assert len([f for f in dl.table_handle("main.enc").files
                if f.delete_uri]) == 17
    grouped = _ids(dl, "main.enc")
    assert grouped == [1, 3, 10, 12, 13]
    assert _ids(dl, "main.enc") == [1, 3, 10, 12, 13]


def test_dml_reads_initial_default(dl):
    """Rows written before ``ADD COLUMN … DEFAULT`` read the default in
    DML exactly as in SELECT: UPDATE keeps it on the rewritten row, and
    predicates on the column match those rows."""
    dl.sql("ALTER TABLE main.t ADD COLUMN c INTEGER DEFAULT 5")
    assert {r["c"] for r in dl.table("main.t").collect()} == {5}
    assert dl.update_where("main.t", {"tag": "'x'"}, "id = 1") == 1
    rows = {r["id"]: r for r in dl.table("main.t").collect()}
    assert rows[1]["tag"] == "x" and rows[1]["c"] == 5
    assert dl.update_where("main.t", {"v": "v + 1"}, "c = 5 AND id < 4") == 4
    assert dl.delete_from("main.t", "c = 5 AND id >= 10") == 10
    assert _ids(dl) == list(range(10))


def test_virtual_read_and_update_fill_nested_field_default(dl):
    """A struct field added with a DEFAULT reads the default on rows
    written before it existed through the virtual-column read and DML
    too, not only the plain read; UPDATE keeps it on the rewritten row."""
    dl.sql("CREATE TABLE main.s (id INT, col1 STRUCT<i:INT, j:INT>)")
    dl.sql("INSERT INTO main.s SELECT 1 AS id, "
           "named_struct('i', 1, 'j', 2) AS col1")
    dl.sql("ALTER TABLE main.s ADD COLUMN col1.k INTEGER DEFAULT 42")
    dl.sql("INSERT INTO main.s SELECT 2 AS id, "
           "named_struct('i', 3, 'j', 4, 'k', 7) AS col1")

    def ks(rel):
        return sorted((r["id"], r["k"]) for r in dl.sql(
            f"SELECT id, col1.k AS k FROM {rel}").collect())

    assert ks("s") == [(1, 42), (2, 7)]
    assert ks("s__virtual") == [(1, 42), (2, 7)]
    assert dl.update_where("main.s", {"id": "id + 10"}, "id = 1") == 1
    assert ks("s") == [(2, 7), (11, 42)]
