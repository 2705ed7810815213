"""Warehouse facade — the reference's library API, Spark-first.

The reference exposes a warehouse/broker object: store a named series,
retrieve it (optionally time-bounded), update it incrementally from the
last stored timestamp, validate and interpolate it (SURVEY.md §3.1 [R] —
reference checkout empty, §0). This facade re-expresses that surface over
a partitioned-parquet lake and the operator library, so a user of the
reference can switch by swapping the object they call.

Storage layout: one dataset per warehouse, hive-partitioned by series —
``root/events/series=<name>/*.parquet`` — so single-series reads prune to
one directory (at 100 TB: one partition subtree, not a scan).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datums_warehouse_spark.operators.candles import candles as _candles
from datums_warehouse_spark.operators.timeseries import fill_linear, gaps as _gaps

SCHEMA = "event_id long, ts timestamp, series string, value double"


def upsert(stored: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """``updates`` ∪ (``stored`` ⟕̸ the updates' ``keys``): an update
    replaces the stored row with its key, other stored rows survive — the
    reference's re-fetch-and-revise step [R], shared by ``Warehouse.merge``
    and ``t9_stream_upsert``'s foreachBatch sink.

    The result is localCheckpoint-ed eagerly: both callers overwrite the
    path ``stored`` is read from, which a lazy plan would still be reading.
    """
    kept = stored.join(updates.select(*keys), keys, "left_anti")
    return updates.unionByName(kept).localCheckpoint(eager=True)


class Warehouse:
    """A directory of named time series stored as partitioned parquet.

    >>> wh = Warehouse(spark, "/data/wh")
    >>> wh.ingest(trades_df)                   # append new rows
    >>> bars = wh.candles("click", "hour")     # OHLCV per series
    >>> wh.update_incremental(feed_df)         # only rows newer than stored
    """

    def __init__(self, spark: SparkSession, root: str, name: str = "events"):
        self.spark = spark
        self.path = os.path.join(root, name)

    # -- write path -----------------------------------------------------------

    def ingest(self, df: DataFrame) -> None:
        """Append rows (event_id, ts, series, value); partitioned by series."""
        df.select("event_id", "ts", "series", "value").write.mode("append").partitionBy(
            "series"
        ).parquet(self.path)

    def update_incremental(self, df: DataFrame) -> int:
        """Append only rows strictly newer than each series' stored max(ts) —
        the reference's since-cursor update loop [R]. Returns rows appended.

        The cursor read is one aggregate over partition-pruned scans; the
        new batch joins against it broadcast (cursors are one row/series).
        """
        cursors = self.table().groupBy("series").agg(F.max("ts").alias("cursor"))
        fresh = (
            df.join(F.broadcast(cursors), "series", "left")
            .filter(F.col("cursor").isNull() | (F.col("ts") > F.col("cursor")))
            .drop("cursor")
        )
        # persist: count + ingest would otherwise each recompute the filter
        # join (and could see different rows if the source is re-read)
        fresh.persist()
        try:
            n = fresh.count()
            if n:
                self.ingest(fresh)
        finally:
            fresh.unpersist()
        return n

    def merge(self, updates: DataFrame) -> int:
        """Upsert revised rows keyed by (series, ts): an update replaces the
        stored row with its key, other stored rows survive — the reference's
        re-fetch-and-revise path [R] (the read-side twin is the graded
        ``s6_merge_upsert``). Returns the merged row count of the touched
        partitions.

        Only partitions (series) present in ``updates`` are rewritten —
        dynamic partition overwrite leaves the rest of the lake untouched,
        which is what makes the revise loop O(recent data), not O(warehouse).
        """
        up = updates.select("event_id", "ts", "series", "value")
        touched = up.select("series").distinct()
        stored = self.table().join(F.broadcast(touched), "series", "left_semi")
        merged = upsert(stored, up, ["series", "ts"])
        # per-write option, not the session conf: toggling the shared
        # session value races with any other writer on the same session
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("series")
            .parquet(self.path)
        )
        return merged.count()

    # -- read path ------------------------------------------------------------

    def table(self) -> DataFrame:
        if not os.path.exists(self.path):
            # empty warehouse: behave like a zero-row series store so the
            # first update_incremental bootstraps instead of raising
            return self.spark.createDataFrame([], SCHEMA)
        return self.spark.read.schema(SCHEMA).parquet(self.path)

    def series(self, name: str, since=None, until=None) -> DataFrame:
        """One series, optionally time-bounded — the REST read path's
        since/until semantics [R]. The series predicate partition-prunes."""
        df = self.table().filter(F.col("series") == name)
        if since is not None:
            df = df.filter(F.col("ts") >= since)
        if until is not None:
            df = df.filter(F.col("ts") < until)
        return df

    def latest(self) -> DataFrame:
        """Per-series cursor: (series, max ts, row count)."""
        return self.table().groupBy("series").agg(
            F.max("ts").alias("cursor"), F.count(F.lit(1)).alias("n")
        )

    # -- maintenance ----------------------------------------------------------

    def compact(self, target_files_per_series: int = 1) -> int:
        """Rewrite each series partition into ``target_files_per_series``
        files, sorted by ts within each file — the small-file maintenance
        pass every append-based warehouse needs (each ``ingest`` /
        ``update_incremental`` adds at least one file per series touched).

        Returns the number of rows rewritten. The rewrite goes through a
        staging directory and an atomic-ish rename so a crash mid-compact
        leaves the old data readable. At cluster scale the same plan holds:
        repartition(series) keeps the rewrite one shuffle, sortWithinPartitions
        gives parquet run-length-friendly pages and min/max ts footers that
        partition-prune time-range reads.
        """
        df = self.table()
        n = df.count()
        if n == 0:
            return 0
        staging = self.path + ".compact"
        # repartition on (series, salt): all rows of one series land in at
        # most `target` shuffle partitions, so the partitionBy write emits
        # at most `target` files per series directory
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64("ts"), F.lit(target_files_per_series))
        )
        (
            salted.repartition("series", "_salt")
            .drop("_salt")
            .sortWithinPartitions("series", "ts", "event_id")
            .write.mode("overwrite")
            .partitionBy("series")
            .parquet(staging)
        )
        old = self.path + ".old"
        # a compact that died before its rmtree(old) finished leaves .old
        # behind, and renaming onto a non-empty directory fails; ``path``
        # exists here, so .old is stale, not the only copy of the data
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(self.path, old)
        os.rename(staging, self.path)
        shutil.rmtree(old)
        return n

    def file_stats(self) -> DataFrame:
        """Files per series with row counts — the compaction trigger metric."""
        return (
            self.table()
            .select("series", F.input_file_name().alias("file"))
            .groupBy("series")
            .agg(
                F.countDistinct("file").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    # -- analytics ------------------------------------------------------------

    def candles(self, name: str, grain: str = "hour") -> DataFrame:
        """OHLCV bars for one series at ``grain``, a ``date_trunc`` unit (A8)."""
        return _candles(
            self.series(name).withColumnRenamed("series", "event_type"),
            F.date_trunc(grain, "ts"),
        )

    def validate(self, name: str) -> DataFrame:
        """Series-quality report: dup timestamps, non-positive values (X4)."""
        s = self.series(name)
        return s.agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.countDistinct("ts")).alias("n_dup_ts"),
            F.count(F.when(F.col("value") <= 0, 1)).alias("n_nonpos"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    def interpolate(self, name: str, grain: str = "hour") -> DataFrame:
        """Dense, gap-free close series for ``name``: one row per ``grain``
        bucket between its first and last candle, missing buckets linearly
        interpolated between their nearest present neighbors (edges take
        the nearest value) — the reference's validate-and-fill read path
        [R], the windowed construction of the graded X3 query at any
        ``date_trunc`` grain."""
        closes = self.candles(name, grain).select("series", "bucket", "close")
        return fill_linear(closes, grain)

    def gaps(self, name: str, grain: str = "hour") -> DataFrame:
        """Missing ``grain`` buckets in the series' dense grid — the graded
        X2 query's construction at any ``date_trunc`` grain."""
        return _gaps(self.candles(name, grain).select("series", "bucket"), grain)
