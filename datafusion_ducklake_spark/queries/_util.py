"""Shared helpers for the query suite.

Cross-engine determinism strategy (Spark vs the DuckDB oracle):

- Sums of doubles are order-dependent in IEEE float; a Spark partial-agg tree
  and DuckDB's aggregation will differ in low bits. We therefore cast inputs
  to DECIMAL(38,6) *before* SUM — decimal addition is exact and associative,
  so both engines produce bit-identical results — then cast the final sum
  back to DOUBLE for a portable output type. The double->decimal(38,6) cast
  itself is deterministic (no double is exactly on a .5e-6 boundary).
- Averages are computed as exact-decimal-sum / count, both sides.
- Timestamps are never returned raw (Spark µs vs source ns precision);
  outputs are cast to DATE or formatted strings.
- LIMIT queries always have a total ORDER BY (value + unique-key tiebreak).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}

def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Parquet scan → Catalyst handles column
    pruning + predicate pushdown. The unresolved DataFrame is memoized per
    (session, dir, table): DataFrames are immutable and re-planned per
    query, so reuse is safe, and it avoids re-reading the parquet footer
    for schema inference on every query (driver-side I/O that at 100k
    files/queries would serialize plan time). No .cache()/persist — data
    is never pinned, each query still scans."""
    key = (id(spark), sf_dir, name)
    df = _DF_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _DF_CACHE[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, handling parquet TIMESTAMP(NANOS).

    Spark's vectorized reader rejects nanosecond parquet timestamps
    (PARQUET_TYPE_ILLEGAL); the supported path is the runtime-settable
    legacy conf that surfaces them as BIGINT nanos, which we convert to a
    proper timestamp. Nanos since epoch (~1.7e18) exceed double precision,
    so the ns→µs conversion must be integer division (DIV), never `/`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp_micros() yields tz-aware TimestampType; pin the session tz so
    # downstream date_format/date_trunc match the DuckDB oracle's naive
    # rendering on any host machine, not just UTC ones.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir, "__events_converted")
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # microsecond parquet (duckdb cannot write nanos): session tz is
        # pinned UTC, so the naive→tz cast is value-preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _DF_CACHE[key] = df
    return df


# When True (default), double aggregates go through decimal(38,6) so results
# are bit-identical to the DuckDB oracle regardless of summation order —
# required by the hash-compare correctness gate. Decimal128 aggregation is
# ~5x slower than double; the bench suite disables it (set_exact_sums(False))
# because the reference engine it is compared against also sums native
# doubles. Semantics are unchanged either way (same rows, same values up to
# float summation order).
_EXACT_SUMS = True


def set_exact_sums(flag: bool) -> None:
    global _EXACT_SUMS
    _EXACT_SUMS = flag


def dsum(col: Column | str) -> Column:
    """Sum of a double expression; order-independent exact mode by default
    (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    if _EXACT_SUMS:
        return F.sum(c.cast("decimal(38,6)")).cast("double")
    return F.sum(c)


def exact_cast(col: Column | str) -> Column:
    """The input-side decimal cast alone (for window sums / HAVING
    thresholds that need order-independent accumulation in exact mode)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(38,6)") if _EXACT_SUMS else c


def back_to_double(col: Column) -> Column:
    return col.cast("double") if _EXACT_SUMS else col


def davg(col: Column | str) -> Column:
    """Average via exact sum/count in exact mode, native avg otherwise."""
    c = F.col(col) if isinstance(col, str) else col
    if _EXACT_SUMS:
        return dsum(c) / F.count(F.lit(1))
    return F.avg(c)
