"""OHLCV candle aggregation — the reference engine's flagship computation.

Parity target: the reference's trades→candles pipeline (SURVEY.md §2.4 A8
[R] — reference checkout empty, see SURVEY.md §0; no file:line possible).
The reference loops rows in Python to bucket trades into OHLCV bars; here a
single hash aggregation does it: ``groupBy(series, bucket)`` with
``min_by/max_by`` for open/close. One shuffle, map-side partial
aggregation, whole-stage codegen — and the identical plan scales out to any
executor count because the grouping key (series, bucket) partitions evenly
over time.

:func:`candles` is the one place the six aggregates are written, and
:func:`candles_oracle` the one place their DuckDB twin is: every candle in
the package — the hourly flagship, the 15-minute and daily tumbling bars,
X1's input, the s6/s8 sink round-trips, T9's stream and
``Warehouse.candles`` — differs only in the bucket it passes.

The ``events`` table plays the trades feed: ``event_type`` = series key,
``value`` = price/size, ``ts`` = trade time (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datums_warehouse_spark.functions.determinism import dsum, sql_dsum
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import events_us


def candles(df: DataFrame, bucket: Column) -> DataFrame:
    """OHLCV bars per ``event_type`` series and ``bucket`` of a (ts, value)
    stream.

    ``bucket`` is the time-bucket Column: ``F.date_trunc(grain, "ts")``,
    epoch arithmetic for sub-hour grains, or ``F.window("ts", …).start``,
    which runs unchanged under ``readStream``. open/close use
    ``min_by``/``max_by`` on the event time — a single-pass aggregate, not
    a window — so the whole candle is one HashAggregate.
    """
    return df.groupBy(F.col("event_type").alias("series"), bucket.alias("bucket")).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        dsum("value").alias("volume"),
        F.count(F.lit(1)).alias("n"),
    )


def candles_oracle(bucket: str, where: str = "") -> str:
    """DuckDB twin of :func:`candles` over ``events``: ``bucket`` is the SQL
    bucket expression, ``where`` an optional filter on the events."""
    return f"""
        SELECT
          event_type AS series,
          {bucket} AS bucket,
          arg_min(value, ts) AS open,
          max(value) AS high,
          min(value) AS low,
          arg_max(value, ts) AS close,
          {sql_dsum("value")} AS volume,
          count(*) AS n
        FROM events{f" WHERE {where}" if where else ""}
        GROUP BY 1, 2
    """


# the hourly bucket of the oracles, µs-cast like Spark's read of the ns ts
SQL_HOUR = "date_trunc('hour', CAST(ts AS TIMESTAMP))"


@query("a8_candles_1h", oracle=candles_oracle(SQL_HOUR), tags=("flagship", "A8"))
def a8_candles_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLCV candles per event_type series (SURVEY.md §2.4 A8)."""
    return candles(events_us(spark, sf_dir), F.date_trunc("hour", "ts"))


@query(
    "t1_candles_1d_tumbling",
    oracle=candles_oracle("date_trunc('day', CAST(ts AS TIMESTAMP))"),
    tags=("T1", "A8"),
)
def t1_candles_1d_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window candles via ``F.window`` (SURVEY.md §2.9 T1).

    Same semantics as date_trunc bucketing, expressed with the streaming
    window primitive: the bucket is the window's start, and the aggregate
    is :func:`candles`, the one T9 runs under ``readStream``.
    """
    return candles(events_us(spark, sf_dir), F.window("ts", "1 day").start)


@query(
    "x1_resample_1h_to_1d",
    oracle=f"""
        WITH hourly AS ({candles_oracle(SQL_HOUR)})
        SELECT
          series,
          date_trunc('day', bucket) AS day,
          arg_min(open, bucket) AS open,
          max(high) AS high,
          min(low) AS low,
          arg_max(close, bucket) AS close,
          {sql_dsum("volume")} AS volume,
          CAST(sum(n) AS BIGINT) AS n
        FROM hourly
        GROUP BY 1, 2
    """,
    tags=("X1",),
)
def x1_resample_1h_to_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample hourly candles to daily (SURVEY.md §2.10 X1).

    Downsampling re-aggregates candle rows — open of the first hour, close
    of the last — exactly the multi-interval packet semantics the reference
    stores as separate series [R]. Two chained hash aggregations; Catalyst
    keeps the second shuffle narrow because (series, day) nests inside
    (series, hour)'s hash partitioning.
    """
    hourly = candles(events_us(spark, sf_dir), F.date_trunc("hour", "ts"))
    return (
        hourly.groupBy("series", F.date_trunc("day", "bucket").alias("day"))
        .agg(
            F.min_by("open", "bucket").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "bucket").alias("close"),
            dsum("volume").alias("volume"),
            F.sum("n").alias("n"),
        )
    )


@query(
    "a8_candles_vwap",
    oracle=f"""
        SELECT
          event_type AS series,
          date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
          {sql_dsum("value * value")} / {sql_dsum("value")} AS vwap,
          {sql_dsum("value")} AS volume,
          count(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    tags=("A8",),
)
def a8_candles_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per daily bar — the candle column the
    reference derives from raw trades (Σ price·vol / Σ vol [R]; ``value``
    doubles as both here). Decimal-exact numerator and denominator, then
    one identical double division per group."""
    e = events_us(spark, sf_dir)
    return e.groupBy(
        F.col("event_type").alias("series"),
        F.date_trunc("day", "ts").alias("bucket"),
    ).agg(
        (dsum(F.col("value") * F.col("value")) / dsum("value")).alias("vwap"),
        dsum("value").alias("volume"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "a8_candles_15m",
    oracle=candles_oracle("time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))"),
    tags=("A8",),
)
def a8_candles_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-hour OHLCV bars (15-minute buckets) — the reference stores
    packets per interval down to one minute [R]; date_trunc can't express
    sub-hour grains, so the bucket is epoch arithmetic
    (floor(epoch_us / 900e6) · 900s), epoch-aligned exactly like DuckDB's
    time_bucket. Same single hash-aggregate plan as the hourly flagship —
    grain changes the key cardinality, never the plan."""
    bucket = F.timestamp_seconds(F.floor(F.unix_micros("ts") / (900 * 1_000_000)) * 900)
    return candles(events_us(spark, sf_dir), bucket)
