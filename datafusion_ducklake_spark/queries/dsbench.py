"""TPC-DS- and ClickBench-pattern queries over the synthetic schema.

The reference's secondary suites are TPC-DS (benchmark/src/tpcds.rs:52-66)
and ClickBench hits (tests/sqllogictests/sql/clickbench/); the driver's
synthetic tables carry neither schema, so this module re-expresses the
suites' characteristic SHAPES on them:

- CUBE multi-level aggregate (TPC-DS grouping-set family)
- channel-union then aggregate (TPC-DS cross-channel pattern)
- rank-within-category top-k (TPC-DS windowed rank family)
- heavy top-K group-by and per-day stats over the events stream
  (ClickBench's hits aggregations)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import back_to_double, dsum, exact_cast, load_events, t


def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(dsum("l_extendedprice").alias("sum_price"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                    "sum_price", "n"))


ORACLE_CUBE = """
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def ds_channel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS cross-channel shape: two filtered 'channels' of the same
    fact, unioned with a channel tag, then aggregated per channel/year."""
    orders = t(spark, sf_dir, "orders")
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
              .withColumn("channel", F.lit("urgent")))
    high = (orders.filter(F.col("o_orderpriority") == "2-HIGH")
            .withColumn("channel", F.lit("high")))
    return (urgent.unionByName(high)
            .groupBy("channel",
                     F.year(F.col("o_orderdate")).alias("yr"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice").alias("revenue")))


ORACLE_DS_CHANNEL = """
SELECT channel, yr, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM (
  SELECT 'urgent' AS channel, YEAR(o_orderdate) AS yr, o_totalprice
  FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT 'high', YEAR(o_orderdate), o_totalprice
  FROM orders WHERE o_orderpriority = '2-HIGH')
GROUP BY channel, yr
"""


def ds_rank_in_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS windowed-rank family: top-3 parts by retail price within
    each (brand, type) category, deterministic tiebreak."""
    part = t(spark, sf_dir, "part")
    w = (Window.partitionBy("p_brand", "p_type")
         .orderBy(F.desc("p_retailprice"), F.asc("p_partkey")))
    return (part.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("p_brand", "p_type", "p_partkey",
                    F.round("p_retailprice", 2).alias("p_retailprice"), "rk"))


ORACLE_DS_RANK = """
SELECT p_brand, p_type, p_partkey, ROUND(p_retailprice, 2) AS p_retailprice, rk
FROM (
  SELECT p_brand, p_type, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand, p_type
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part)
WHERE rk <= 3
"""


def ds_monthly_brand_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape (rank over rolling sum): monthly revenue per part
    brand, 3-month moving average along each brand's time series, and the
    brand's revenue rank within each month. Two window specs over one
    small aggregated frame — the window-heavy pattern where Spark beats
    DuckDB at SF3 (r4 verdict #6), tracked as a headline bench entry.

    Scale shape: the fact join aggregates down to |brands|×|months| rows
    before any window runs, so the window stage is negligible at 100 TB;
    the cost is the lineitem⋈orders join + two-phase aggregate.

    r10 opt (guide §3.1): part is projected to (p_partkey, p_brand) —
    ~26 B/row — and BROADCAST, replacing the second full-fact shuffle
    (the partkey exchange of the whole lineitem⋈orders result) with a
    map-side probe. Measured at SF10 (min-of-5 warm, interleaved):
    7.96 -> 7.68 s plain and 4.35 -> 3.88 s clustered, where the
    partkey exchange was the ONLY remaining fact shuffle. Broadcast
    boundary: p grows with SF (200k rows/SF ≈ 5 MB/SF built), driver-
    safe to roughly SF500 (~100M rows ≈ 2.5 GB, under the 8 GB /
    512M-row broadcast cap); past that remove the hint and the same
    declarative shape shuffles on partkey again — semantics unchanged
    (the q05/q10 hint-boundary contract)."""
    # r10 opt (guide §2.3 — project before the exchange): the per-row
    # revenue is computed BEFORE the orderkey shuffle so the exchange
    # ships one double instead of (l_extendedprice, l_discount). This
    # join keeps every lineitem row, so the multiply count is unchanged
    # — strictly fewer shuffle bytes for the same compute (SF10-eq
    # interleaved min 5.06 -> 4.87 s).
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("rev_row"))
    # r11 opt (guide §2.3 — push per-row compute below the fan-out):
    # date_trunc('month') is a pure function of o_orderdate, so evaluate
    # it once per ORDER row (15M at SF10) instead of once per joined
    # LINEITEM row (60M) — the noop-sink decomposition put the post-join
    # aggregate at ~2.4 s of the 8.2 s wall, part of it this per-row
    # truncation. Same 8-byte timestamp through the exchange, same
    # grouping values (m is row-wise identical either side of the join).
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("m"))
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("m", F.col("p_brand").alias("brand"))
        # keep the exact-mode sum in decimal so the window re-sum below is
        # also order-independent; cast to double only on output
        .agg(F.sum(exact_cast(F.col("rev_row"))).alias("rev"),
             F.count(F.lit(1)).alias("n_items")))
    w_mov = (Window.partitionBy("brand").orderBy("m")
             .rowsBetween(-2, Window.currentRow))
    w_rank = Window.partitionBy("m").orderBy(F.desc("rev"), F.asc("brand"))
    return monthly.select(
        F.date_format("m", "yyyy-MM").alias("month"), "brand",
        back_to_double(F.col("rev")).alias("revenue"), "n_items",
        (back_to_double(F.sum("rev").over(w_mov))
         / F.count(F.lit(1)).over(w_mov)).alias("mov_avg3"),
        F.rank().over(w_rank).alias("brand_rank"))


ORACLE_DS_MONTHLY_RANK = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m, p_brand AS brand,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS rev,
         COUNT(*) AS n_items
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2)
SELECT strftime(m, '%Y-%m') AS month, brand,
  CAST(rev AS DOUBLE) AS revenue, n_items,
  CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS mov_avg3,
  RANK() OVER (PARTITION BY m ORDER BY rev DESC, brand ASC) AS brand_rank
FROM monthly
WINDOW w AS (PARTITION BY brand ORDER BY m
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def cb_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench heavy-hitter shape: top 20 users by event count."""
    return top_users(load_events(spark, sf_dir))


def top_users(ev: DataFrame) -> DataFrame:
    """cb_top_users' aggregate over any events frame. Over events
    clustered on user_id (operators/layout.cluster_by) the groupBy runs as
    a complete per-bucket aggregate with no exchange."""
    return (ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("event_type").alias("n_types"))
            .orderBy(F.desc("n_events"), F.asc("user_id"))
            .limit(20))


ORACLE_CB_TOP_USERS = """
SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id ASC
LIMIT 20
"""


def cb_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench per-day aggregation shape over the stream."""
    ev = load_events(spark, sf_dir)
    return (ev.groupBy(
                F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("value"), 6).alias("min_v"),
                 F.round(F.max("value"), 6).alias("max_v"),
                 dsum("value").alias("sum_v")))


ORACLE_CB_DAILY = """
SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
       ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v
FROM events
GROUP BY 1
"""


def cb_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench-style exact quantiles per event_type (percentile() is
    Spark's exact linear-interpolation aggregate; at scale swap for
    approx_percentile — same plan shape, bounded memory)."""
    from ._util import load_events
    ev = load_events(spark, sf_dir)
    q = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (ev.groupBy("event_type").agg(q.alias("qs"))
            .select("event_type",
                    F.round(F.element_at("qs", 1), 6).alias("p50"),
                    F.round(F.element_at("qs", 2), 6).alias("p90"),
                    F.round(F.element_at("qs", 3), 6).alias("p99")))


ORACLE_CB_QUANTILES = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.9), 6) AS p90,
  ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""
