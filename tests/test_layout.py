"""Bucketed-layout (storage-partitioned join) tests: correctness parity
with the shuffle path, plus the plan-level proof that co-bucketed facts
join with ZERO exchanges on the join inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_ducklake_spark.operators.layout import (
    export_bucketed, join_side_exchanges)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lb = export_bucketed(li, "t_layout_li", "l_orderkey", 8)
    ob = export_bucketed(o, "t_layout_o", "o_orderkey", 8)
    yield lb, ob
    spark.sql("DROP TABLE IF EXISTS t_layout_li")
    spark.sql("DROP TABLE IF EXISTS t_layout_o")


def _q12_shape(li, o):
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_linestatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("l_linestatus", "o_orderpriority"))


def test_bucketed_join_elides_exchanges(spark, bucketed):
    lb, ob = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = _q12_shape(lb, ob)
        assert join_side_exchanges(j) == 0, (
            j._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_shuffle_join(spark, bucketed):
    lb, ob = bucketed
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    assert (_q12_shape(lb, ob).collect()
            == _q12_shape(li, o).collect())


# ---- catalog-integrated clustering (round 6: the lever, wired in) --------

@pytest.fixture(scope="module")
def clustered_dl(spark, tmp_path_factory):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    tmp = tmp_path_factory.mktemp("cluster_cat")
    db = str(tmp / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.lineitem", spark.read.parquet(
        f"{SF_SMOKE}/lineitem.parquet"))
    dl.create_table("main.orders", spark.read.parquet(
        f"{SF_SMOKE}/orders.parquet"))
    dl.cluster_by("main.lineitem", "l_orderkey", 8)
    dl.cluster_by("main.orders", "o_orderkey", 8)
    return dl


def test_catalog_clustered_join_zero_exchanges(spark, clustered_dl):
    """The VERDICT r5 'done' bar: a catalog-scanned pair of co-clustered
    facts joins with zero join-side exchanges — the layout is a DuckLake
    capability now, not a session-catalog sidecar."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = clustered_dl.table("main.lineitem")
        o = clustered_dl.table("main.orders")
        j = _q12_shape(li, o)
        assert join_side_exchanges(j) == 0, (
            j._jdf.queryExecution().executedPlan().toString())
        # value parity with the plain shuffle join over the raw parquet
        plain = _q12_shape(
            spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"),
            spark.read.parquet(f"{SF_SMOKE}/orders.parquet")).collect()
        assert j.collect() == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_cluster_by_files_are_catalog_rows(clustered_dl):
    """Bucket files ARE ducklake_data_file rows: listed by the UDTF with
    record counts, and the pre-clustering files are ended (Replace)."""
    files = clustered_dl.table_handle("main.orders")._raw_files
    assert len(files) == 8                      # one per bucket
    assert all(f.row_id_start is None for f in files)   # rowids in-file
    total = sum(f.record_count for f in files)
    assert total == clustered_dl.table("main.orders").count()


def test_corrupt_clustering_spec_falls_back_not_raises(spark, clustered_dl):
    """A foreign writer leaving a malformed spec value (bad bucket count,
    non-integer n_files) must degrade to the plain scan, never raise from
    to_df — same contract as every other spec-validation failure."""
    import json
    handle = clustered_dl.table_handle("main.orders")
    raw = clustered_dl.provider.get_scoped_option(
        "clustering", None, handle.meta.table_id)
    spec = json.loads(raw)
    expected = clustered_dl.table("main.orders").count()
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    try:
        for bad in ({**spec, "buckets": "4.0"},
                    {k: v for k, v in spec.items() if k != "buckets"},
                    {**spec, "n_files": "8"}):
            w = CatalogWriter.sqlite(clustered_dl.catalog_path)
            try:
                w.set_option("clustering", json.dumps(bad), scope="table",
                             scope_id=handle.meta.table_id)
            finally:
                w.close()
            clustered_dl.refresh()
            h = clustered_dl.table_handle("main.orders")
            assert h._clustered_df() is None
            assert clustered_dl.table("main.orders").count() == expected
    finally:
        # the fixture is shared: put the intact spec back
        w = CatalogWriter.sqlite(clustered_dl.catalog_path)
        try:
            w.set_option("clustering", raw, scope="table",
                         scope_id=handle.meta.table_id)
        finally:
            w.close()
        clustered_dl.refresh()


def test_cluster_by_preserves_rowids(spark, clustered_dl):
    rows = clustered_dl.table("main.orders", with_rowid=True)
    n = rows.count()
    assert rows.select("rowid").distinct().count() == n
    assert rows.agg(F.max("rowid")).collect()[0][0] == n - 1


def test_cluster_by_fast_path_survives_reopen(spark, clustered_dl):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    dl2 = DuckLakeSession(spark, clustered_dl.catalog_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = _q12_shape(dl2.table("main.lineitem"),
                       dl2.table("main.orders"))
        assert join_side_exchanges(j) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


@pytest.mark.slow
def test_cluster_by_later_dml_falls_back_correctly(spark, tmp_path):
    """Any later write invalidates the fast path (live set != clustered
    export) — scans fall back to the plain path with correct values."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "c2.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake2"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.f", spark.createDataFrame(
        [(i % 10, i) for i in range(1000)], "k INT, id INT"))
    dl.cluster_by("main.f", "k", 4)
    assert dl.table("main.f").count() == 1000
    dl.delete_from("main.f", "id < 100")        # adds a delete file
    assert dl.table("main.f").count() == 900    # fallback, MOR applied
    dl.insert_into("main.f", spark.createDataFrame(
        [(99, 9999)], "k INT, id INT"))
    got = dl.table("main.f")
    assert got.count() == 901
    assert got.filter("id = 9999").count() == 1
    # re-clustering re-engages the fast path over the merged state
    dl.cluster_by("main.f", "k", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = dl.table("main.f").join(dl.table("main.f").withColumnRenamed(
            "id", "id2"), "k")
        assert join_side_exchanges(j) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert dl.table("main.f").count() == 901


def test_cluster_by_time_travel_reads_pre_layout(spark, tmp_path):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "c3.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake3"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.g", spark.createDataFrame(
        [(i % 5, i) for i in range(100)], "k INT, id INT"))
    pre = dl.provider.get_current_snapshot()
    dl.cluster_by("main.g", "k", 4)
    pinned = DuckLakeSession(spark, db, snapshot_id=pre)
    assert sorted(r["id"] for r in pinned.table("main.g").collect()) \
        == list(range(100))


def test_cluster_by_scheme_d_path_through_hadoop_fs(spark, tmp_path):
    """A scheme'd data_path routes cluster_by's bucket-file enumeration
    through the Hadoop FileSystem API (sizes from FileStatus, footer
    sizes from an 8-byte tail read, counts from one distributed
    footer-stats job) — the object-store-capable route. s3a:// etc. use
    the identical code path; file:// is what is integration-testable
    offline. The read fast path reconstructs the bucketed scan over the
    scheme'd location and still joins with zero exchanges."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "cs.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=f"file://{tmp_path}/lakes")
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.s1", spark.createDataFrame(
        [(i % 50, i) for i in range(500)], "k INT, id INT"))
    dl.create_table("main.s2", spark.createDataFrame(
        [(i % 50, i * 2) for i in range(500)], "k INT, v INT"))
    assert dl.cluster_by("main.s1", "k", 4) == 500
    assert dl.cluster_by("main.s2", "k", 4) == 500
    # catalog rows carry real sizes/footers/counts from the Hadoop route
    files = dl.table_handle("main.s1")._raw_files
    assert len(files) == 4
    assert all(f.file_size_bytes > 0 and f.footer_size > 0
               for f in files)
    assert sum(f.record_count for f in files) == 500
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = dl.table("main.s1").join(dl.table("main.s2"), "k")
        assert join_side_exchanges(j) == 0
        assert j.count() == 500 * 10
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # values identical to an unclustered rebuild
    assert sorted((r["k"], r["id"])
                  for r in dl.table("main.s1").collect()) == \
        sorted((i % 50, i) for i in range(500))


def test_cluster_by_empty_table_scheme_d(spark, tmp_path):
    """Clustering an empty table over a scheme'd path registers zero
    files and returns 0 instead of crashing schema inference on the
    empty bucket directory (code-review r7)."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "ce.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=f"file://{tmp_path}/lakee")
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.e", spark.createDataFrame(
        [], "k INT, id INT"))
    assert dl.cluster_by("main.e", "k", 4) == 0
    assert dl.table("main.e").count() == 0


def test_cluster_by_refusals(spark, tmp_path):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import InvalidConfig
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "c4.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake4"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.h", spark.createDataFrame(
        [(1, 2)], "k INT, id INT"))
    with pytest.raises(InvalidConfig, match="not a column"):
        dl.cluster_by("main.h", "nope", 4)
    dl.sql("ALTER TABLE h SET PARTITIONED BY (k)")
    with pytest.raises(InvalidConfig, match="partitioned"):
        dl.cluster_by("main.h", "k", 4)


def test_cluster_fast_path_disabled_after_full_bucket_rewrite(
        spark, tmp_path):
    """Code-review r6: the fast path must check live-set EQUALITY, not
    subset — a rewrite that ENDS a fully-deleted bucket file (no
    replacement) leaves the remaining live files inside the clustered
    dir, and a location-based bucketed scan would resurrect the ended
    file's rows from disk until cleanup."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "c5.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake5"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.r", spark.createDataFrame(
        [(i % 4, i) for i in range(400)], "k INT, id INT"))
    dl.cluster_by("main.r", "k", 4)
    # every row of SOME buckets deleted (hash(k) buckets: delete one k)
    dl.delete_from("main.r", "k = 1")
    assert dl.table("main.r").count() == 300     # MOR fallback, correct
    # the rewrite ends fully-deleted member files with no replacement
    dl.rewrite_data_files("main.r")
    live = dl.table_handle("main.r")._raw_files
    got = dl.table("main.r").collect()
    assert len(got) == 300
    assert all(r["k"] != 1 for r in got)         # no resurrection
    # files on disk still include the ended bucket until cleanup — that
    # is exactly why the fast path must stay OFF here
    assert sum(f.record_count for f in live) == 300


def test_clustered_scan_missing_files_raise_not_empty(spark, tmp_path):
    """A moved/deleted data path must raise CatalogCorruption through the
    clustered fast path exactly as through the plain scan — the
    location-based session-table would otherwise silently return an
    EMPTY result for catalog-registered files that are gone."""
    import shutil

    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import CatalogCorruption
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "c6.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake6"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.m", spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "k INT, id INT"))
    dl.cluster_by("main.m", "k", 3)
    assert dl.table("main.m").count() == 30
    shutil.rmtree(str(tmp_path / "lake6"))       # data path gone
    dl2 = DuckLakeSession(spark, db)
    with pytest.raises(CatalogCorruption):
        dl2.table("main.m").count()


# ---- replica clustering: the SECOND clustered family (round 8) -----------

@pytest.fixture(scope="module")
def family_dl(spark, tmp_path_factory):
    """customer clustered primary on c_custkey; orders carries a
    custkey REPLICA family beside its (untouched) live files."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    tmp = tmp_path_factory.mktemp("family_cat")
    db = str(tmp / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.customer", spark.read.parquet(
        f"{SF_SMOKE}/customer.parquet"))
    dl.create_table("main.orders", spark.read.parquet(
        f"{SF_SMOKE}/orders.parquet"))
    dl.cluster_by("main.customer", "c_custkey", 8)
    dl.cluster_by("main.orders", "o_custkey", 8, replica=True)
    return dl


def _family_shape(cust, orders):
    ck = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_ord"))
    return (cust.join(ck, cust["c_custkey"] == ck["o_custkey"])
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_ord").alias("ords"))
            .orderBy("c_nationkey"))


def test_replica_family_zero_exchange_join(spark, family_dl):
    """The r7 verdict #4 'done' bar: a second clustered family (custkey)
    joins with ZERO exchanges feeding the join — the orders side is the
    catalog-invisible replica, the customer side the primary layout —
    and values match the plain scan."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c = family_dl.table("main.customer", cluster_key="c_custkey")
        o = family_dl.table("main.orders", cluster_key="o_custkey")
        j = _family_shape(c, o)
        assert join_side_exchanges(j) == 0, (
            j._jdf.queryExecution().executedPlan().toString())
        plain = _family_shape(
            spark.read.parquet(f"{SF_SMOKE}/customer.parquet"),
            spark.read.parquet(f"{SF_SMOKE}/orders.parquet")).collect()
        assert j.collect() == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_replica_files_are_catalog_invisible(family_dl):
    """Replica bucket files must NOT be ducklake_data_file rows: the
    plain scan and every catalog surface see only the original live
    files, so no query can ever read the rows twice."""
    files = family_dl.table_handle("main.orders")._raw_files
    assert all("clustered_" not in f.path for f in files)
    plain = family_dl.table("main.orders")
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "ducklake_clureplica" not in plan
    assert plain.count() == sum(f.record_count for f in files)


def test_replica_unknown_key_serves_plain_scan(family_dl):
    """cluster_key with no matching layout is a plain scan, never an
    error — layout requests are performance hints, not contracts."""
    df = family_dl.table("main.orders", cluster_key="o_orderkey")
    assert df.count() == family_dl.table("main.orders").count()


def test_replica_dml_invalidates_then_rebuild_revives(spark, tmp_path):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r1.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r1"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 5, i, float(i)) for i in range(40)],
        "k INT, id INT, v DOUBLE"))
    dl.cluster_by("main.o", "k", 4, replica=True)
    fast = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" in \
        fast._jdf.queryExecution().executedPlan().toString()
    # any DML diverges the live-set digest: the fast path must decline
    # and the fallback must see the NEW rows (a stale replica served
    # here would silently miss them)
    dl.insert_into("main.o", spark.createDataFrame(
        [(9, 100, 1.0)], "k INT, id INT, v DOUBLE"))
    after = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" not in \
        after._jdf.queryExecution().executedPlan().toString()
    assert after.count() == 41
    # rebuilding refreshes the digest; the superseded replica's files
    # become orphans and the sweep must spare only the live ones
    dl.cluster_by("main.o", "k", 4, replica=True)
    again = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" in \
        again._jdf.queryExecution().executedPlan().toString()
    assert again.count() == 41
    orphans = dl.delete_orphaned_files(cleanup_all=True)
    assert all("clustered_" in p for p in orphans) and orphans
    assert dl.table("main.o", cluster_key="k").count() == 41


def test_replica_missing_file_falls_back_to_plain(spark, tmp_path):
    """A tampered replica dir (one bucket file gone) must NOT serve the
    location scan — that would silently drop rows; the exact name-set
    check routes the read back to the always-correct plain scan."""
    import glob
    import os
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r2.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r2"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 4, i) for i in range(40)], "k INT, id INT"))
    dl.cluster_by("main.o", "k", 4, replica=True)
    victims = glob.glob(str(tmp_path / "lake_r2" / "**" / "clustered_*"
                            / "*.parquet"), recursive=True)
    assert victims
    os.remove(victims[0])
    df = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" not in \
        df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 40            # full rows through the plain scan


def test_replica_shares_primary_guards(spark, tmp_path):
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import InvalidConfig
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r3.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r3"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(1, 2)], "k INT, id INT"))
    with pytest.raises(InvalidConfig, match="not a column"):
        dl.cluster_by("main.o", "nope", 4, replica=True)
    with pytest.raises(InvalidConfig, match="buckets"):
        dl.cluster_by("main.o", "k", 0, replica=True)


def test_replica_lifecycle_drop_api_and_drop_table(spark, tmp_path):
    """A DML-invalidated replica can never serve again; its disposal
    paths — drop_clustering_replica and DROP TABLE — must un-spare the
    files so the orphan sweep can collect them (review finding: without
    this the storage leak is unbounded)."""
    import glob
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r4.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r4"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "k INT, id INT"))
    dl.cluster_by("main.o", "k", 3, replica=True)
    dl.insert_into("main.o", spark.createDataFrame(
        [(7, 99)], "k INT, id INT"))           # digest diverges forever
    assert dl.delete_orphaned_files(dry_run=True, cleanup_all=True) == []
    assert dl.drop_clustering_replica("main.o", "k") == 1
    orphans = dl.delete_orphaned_files(cleanup_all=True)
    assert orphans and all("clustered_" in p for p in orphans)
    assert dl.table("main.o").count() == 31    # live data untouched
    # DROP TABLE clears replica specs too
    dl.create_table("main.p", spark.createDataFrame(
        [(i % 2, i) for i in range(20)], "k INT, id INT"))
    dl.cluster_by("main.p", "k", 2, replica=True)
    n_rep_files = len(glob.glob(
        str(tmp_path / "lake_r4" / "main" / "p" / "clustered_*"
            / "*.parquet")))
    assert n_rep_files >= 1
    dl.drop_table("main.p")
    orphans = dl.delete_orphaned_files(dry_run=True, cleanup_all=True)
    reps = [p for p in orphans if "clustered_" in p]
    assert len(reps) == n_rep_files            # the dropped table's replica


def test_replica_alien_file_falls_back_plain(spark, tmp_path):
    """A non-parquet alien entry in the replica dir would reach Spark's
    location scan (which lists every non-hidden file) — the name-set
    check must route to the plain scan instead of letting the scan
    error or over-read."""
    import glob
    import os
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r5.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r5"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 2, i) for i in range(20)], "k INT, id INT"))
    dl.cluster_by("main.o", "k", 2, replica=True)
    rep_dirs = glob.glob(str(tmp_path / "lake_r5" / "**" / "clustered_*"),
                         recursive=True)
    rep_dir = next(d for d in rep_dirs if os.path.isdir(d))
    with open(os.path.join(rep_dir, "alien.txt"), "w") as f:
        f.write("not parquet")
    df = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" not in \
        df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 20


def test_replica_on_partitioned_table(spark, tmp_path):
    """partitioned+clustered (the r7 verdict's other missing combo): a
    PRIMARY clustering still refuses a partitioned table (both own the
    live layout), but a REPLICA leaves the partitioned live set
    untouched — partition pruning keeps working while cluster_key joins
    serve from the replica, with partition values physically
    materialized in the replica files."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import InvalidConfig
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "r6.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_r6"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 3, i % 5, i) for i in range(60)],
        "pk INT, k INT, id INT"))
    dl.sql("ALTER TABLE o SET PARTITIONED BY (pk)")
    dl.insert_into("main.o", spark.createDataFrame(
        [(i % 3, i % 5, 100 + i) for i in range(30)],
        "pk INT, k INT, id INT"))
    with pytest.raises(InvalidConfig, match="replica"):
        dl.cluster_by("main.o", "k", 3)          # primary still refused
    dl.cluster_by("main.o", "k", 3, replica=True)
    fast = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" in \
        fast._jdf.queryExecution().executedPlan().toString()
    plain = dl.table("main.o")
    assert sorted(map(tuple, fast.collect())) \
        == sorted(map(tuple, plain.collect()))
    # partition values came through the replica physically
    assert fast.filter(F.col("pk") == 1).count() \
        == plain.filter(F.col("pk") == 1).count()


def test_replica_staleness_surface_and_refresh(spark, tmp_path):
    """r8 verdict Missing #5, the 'done' bar: DML a replica'd table,
    observe current=false via the status surface (Python API AND the
    ducklake_clustering_info() SQL UDTF), CALL ducklake_refresh_replica,
    and get the zero-exchange bucketed plan back."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "rs.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_rs"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 5, i, float(i)) for i in range(40)],
        "k INT, id INT, v DOUBLE"))
    dl.cluster_by("main.o", "k", 4, replica=True)

    def status():
        rows = dl.clustering_status("main.o").collect()
        assert len(rows) == 1 and rows[0].kind == "replica" \
            and rows[0].cluster_key == "k" and rows[0].buckets == 4
        return rows[0].current

    assert status() is True
    dl.insert_into("main.o", spark.createDataFrame(
        [(9, 100, 1.0)], "k INT, id INT, v DOUBLE"))
    assert status() is False          # DML diverged the live-set digest
    # SQL twin reports the same staleness
    sql_rows = dl.sql("SELECT * FROM ducklake_clustering_info()").collect()
    assert [(r.kind, r.cluster_key, r.current) for r in sql_rows] \
        == [("replica", "k", False)]
    assert dl.sql(
        "CALL ducklake_refresh_replica('main.o', 'k')").collect()[0][0] == 1
    assert status() is True
    revived = dl.table("main.o", cluster_key="k")
    assert "ducklake_clureplica" in \
        revived._jdf.queryExecution().executedPlan().toString()
    assert revived.count() == 41
    # key=None refreshes only NON-current families: everything is
    # current now, so it's a no-op
    assert dl.refresh_replica("main.o") == 0
    # superseded export collected, live one spared
    orphans = dl.delete_orphaned_files(cleanup_all=True)
    assert orphans and all("clustered_" in p for p in orphans)
    assert dl.table("main.o", cluster_key="k").count() == 41


def test_clustering_status_covers_primary(spark, tmp_path):
    """The status surface reports the PRIMARY spec too, with the same
    catalog-level currency gate (_clustered_df's conditions)."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "ps.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_ps"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "k INT, id INT"))
    dl.cluster_by("main.t", "k", 4)
    rows = dl.clustering_status("main.t").collect()
    assert [(r.kind, r.cluster_key, r.current) for r in rows] \
        == [("primary", "k", True)]
    dl.delete_from("main.t", "id = 0")
    dl.refresh()
    rows = dl.clustering_status("main.t").collect()
    assert rows[0].current is False   # delete file broke spec currency


_ORDERING_CONF = "spark.sql.legacy.bucketedTableScan.outputOrdering"


@pytest.fixture()
def _ordering_conf_restored(spark):
    """Save/restore the session-global ordering conf around a test that
    mutates it (the module's other tests assume whatever default the
    clustered reads left behind)."""
    try:
        before = spark.conf.get(_ORDERING_CONF)
    except Exception:
        before = None
    yield
    if before is None:
        spark.conf.unset(_ORDERING_CONF)
    else:
        spark.conf.set(_ORDERING_CONF, before)


def test_bucketed_ordering_conf_blast_radius(spark, tmp_path,
                                             _ordering_conf_restored):
    """Pins the session-global contract of
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (r9 verdict
    'What's wrong #2'): the conf a clustered DuckLake read sets cannot
    be scoped, and its only hazard is a FOREIGN-written bucket file
    under a hand-declared SORTED BY DDL. Four facts proven:

    1. set/restore around DataFrame CONSTRUCTION is useless — Spark
       reads the conf at physical-planning (action) time, so the
       restored plan re-grows both Sort nodes. This is why
       _session_bucketed_df leaves the conf set for the session.
    2. a user's own Spark-WRITTEN bucketed SORTED BY table stays
       correct under the flag (Spark's writer actually sorts, so the
       trusted claim is true).
    3. the hazard: an UNSORTED foreign file placed under a
       single-file-per-bucket SORTED BY DDL merge-joins WRONG under the
       flag (here: 1 row instead of 10) — exactly the blast radius the
       docstring claims, nothing wider.
    4. SPARK_GRAFT_BUCKETED_ORDERING=off keeps the Spark default: a
       clustered DuckLake read then leaves the conf untouched."""
    import glob
    import shutil

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # -- (2)+(3) fixture tables: one honest, one lying about order
        loc_a = str(tmp_path / "foreign_bucketed")
        stage = str(tmp_path / "stage")
        rows = [(k, f"a{k}") for k in
                [50, 1, 30, 2, 40, 3, 20, 4, 10, 5]]   # NOT sorted by k
        spark.createDataFrame(rows, "k INT, s STRING") \
            .coalesce(1).write.parquet(stage)
        import os as _os
        _os.makedirs(loc_a, exist_ok=True)
        # Spark parses the bucket id from the trailing _NNNNN token, so
        # this registers as bucket 0 of a 1-bucket table
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0],
                    loc_a + "/data_00000.parquet")
        spark.sql("DROP TABLE IF EXISTS t_foreign_sorted")
        spark.sql(
            f"CREATE TABLE t_foreign_sorted (k INT, s STRING) "
            f"USING PARQUET CLUSTERED BY (k) SORTED BY (k) "
            f"INTO 1 BUCKETS LOCATION '{loc_a}'")
        spark.sql("DROP TABLE IF EXISTS t_own_sorted")
        (spark.createDataFrame([(k, f"b{k}") for k in range(1, 60)],
                               "k INT, s2 STRING")
         .repartition(1, "k").write.bucketBy(1, "k").sortBy("k")
         .saveAsTable("t_own_sorted"))

        def joined(left):
            return spark.table(left).join(spark.table("t_own_sorted"),
                                          "k")

        def sorts(df):
            return df._jdf.queryExecution().executedPlan() \
                .toString().count("Sort [")

        # -- (1) restore-after-construction loses the elision
        spark.conf.set(_ORDERING_CONF, "true")
        j = joined("t_own_sorted")
        spark.conf.set(_ORDERING_CONF, "false")
        j.count()
        assert sorts(j) == 2      # conf was false at action time
        spark.conf.set(_ORDERING_CONF, "true")
        j2 = joined("t_own_sorted")
        j2.count()
        assert sorts(j2) == 0     # true at action time: both Sorts gone

        # -- (2) own Spark-written tables stay correct under the flag
        assert joined("t_own_sorted").count() == 59

        # -- (3) the foreign-file hazard, and its exact boundary
        spark.conf.set(_ORDERING_CONF, "false")
        assert joined("t_foreign_sorted").count() == 10   # Spark default
        spark.conf.set(_ORDERING_CONF, "true")
        wrong = joined("t_foreign_sorted")
        assert sorts(wrong) == 0          # claim trusted...
        assert wrong.count() != 10        # ...and the merge is WRONG
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_foreign_sorted")
        spark.sql("DROP TABLE IF EXISTS t_own_sorted")


def test_bucketed_ordering_env_off_keeps_spark_default(
        spark, tmp_path, monkeypatch, _ordering_conf_restored):
    """(4) of the blast-radius pin: with SPARK_GRAFT_BUCKETED_ORDERING=off
    a clustered DuckLake read does NOT set the legacy conf — the user's
    session keeps Spark defaults (clustered joins then re-sort)."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED_ORDERING", "off")
    spark.conf.unset(_ORDERING_CONF)
    db = str(tmp_path / "env.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_env"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.t", spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "k INT, id INT"))
    dl.cluster_by("main.t", "k", 4)
    df = dl.table("main.t")
    assert df.count() == 30
    assert "ducklake_clu" in \
        df._jdf.queryExecution().executedPlan().toString()
    assert spark.conf.get(_ORDERING_CONF, None) in (None, "false")


def test_refresh_replica_covers_schema_staleness(spark, tmp_path):
    """r10 advice: a blanket CALL ducklake_refresh_replica('t') must
    rebuild every family the status surface reports current=false —
    including columns/types staleness after a schema change, where the
    live-set digest still matches (the old predicate returned 0 while
    clustering_status kept showing stale). A family whose KEY column
    was renamed away cannot rebuild: blanket refresh warns and skips
    it; the explicit-key form raises."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import InvalidConfig
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "ss.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_ss"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.o", spark.createDataFrame(
        [(i % 5, i, float(i)) for i in range(40)],
        "k INT, id INT, v DOUBLE"))
    dl.cluster_by("main.o", "k", 4, replica=True)
    # rename a NON-key column: digest unchanged, columns stale
    dl.rename_column("main.o", "v", "v2")
    dl.refresh()
    st = dl.clustering_status("main.o").collect()
    assert [(r.cluster_key, r.current) for r in st] == [("k", False)]
    assert dl.refresh_replica("main.o") == 1      # was 0 pre-fix
    assert dl.clustering_status("main.o").collect()[0].current is True
    assert dl.table("main.o", cluster_key="k").count() == 40
    # rename the KEY column away: blanket refresh warns + skips
    dl.rename_column("main.o", "k", "k2")
    dl.refresh()
    assert dl.clustering_status("main.o").collect()[0].current is False
    with pytest.warns(UserWarning, match="no longer a column"):
        assert dl.refresh_replica("main.o") == 0
    with pytest.raises(InvalidConfig, match="no longer a column"):
        dl.refresh_replica("main.o", "k")
    # the stale family still never serves reads: plain scan fallback
    assert dl.table("main.o", cluster_key="k").count() == 40


def test_events_clustered_override_serves_cb_top_users(spark, tmp_path):
    """cb_top_users' aggregate over events clustered on user_id, read
    straight from the catalog: the user_id aggregation plans with ZERO
    exchanges (complete per-bucket aggregate) and returns the plain
    path's rows."""
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    from datafusion_ducklake_spark.queries import REGISTRY
    from datafusion_ducklake_spark.queries.dsbench import top_users
    db = str(tmp_path / "evc.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_evc"))
    w.close()
    dl = DuckLakeSession(spark, db)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dl.create_table("main.events",
                    spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    dl.cluster_by("main.events", "user_id", 4)
    plain = REGISTRY["cb_top_users"].fn(spark, SF_SMOKE).collect()
    ev = dl.table("main.events")
    assert "ducklake_clustered_" in (
        ev._jdf.queryExecution().executedPlan().toString())
    df = top_users(ev)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.collect() == plain
