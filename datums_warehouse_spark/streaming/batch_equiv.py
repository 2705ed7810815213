"""Streaming operators (SURVEY.md §2.9 T2–T12).

The reference "streams" by cron-polling the exchange since the last stored
candle [R]; the genuine Spark equivalents are Structured Streaming
primitives. Each stateful shape is graded in batch mode against a DuckDB
oracle (identical semantics — Spark's window/session functions behave the
same under batch and microbatch); T4/T6/T7/T8/T10/T13 actually run
``readStream`` with an ``availableNow`` trigger end-to-end. Most genuine
streams are ALSO oracle-graded — their deterministic final/finalized
output is SQL-expressible (T9's upserted table, T12's complete-mode
rollup, T4's and T10's closed-bucket/closed-session subsets, T7's
exactly-once sink counts, T13's full-projection dedup); only
T6-stateful and T8 stay rows-only (arbitrary-state and pair-emission
timing couple to the microbatch split; each has a hash-graded batch twin
plus a parity pytest).

At scale: watermarks bound state-store size; session/tumbling windows key
state by (user/series, window) which shards across executors.

Note: the newer ``transformWithStateInPandas`` API (the successor to
``applyInPandasWithState``) is NOT covered — its state-server protocol
imports ``google.protobuf`` at query start
(pyspark/sql/streaming/stateful_processor_api_client.py), and protobuf is
absent from this environment, so any such query crashes with
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE before the first batch.
applyInPandasWithState (t6_stateful_stream) covers the arbitrary-state
capability without that dependency.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from datums_warehouse_spark.functions.determinism import DEC, dsum, sql_dsum
from datums_warehouse_spark.operators.candles import SQL_HOUR, candles, candles_oracle
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.session import scoped_conf
from datums_warehouse_spark.sources.tables import (
    events_us,
    load,
    normalize_ts,
    scratch,
    scratch_path,
)
from datums_warehouse_spark.warehouse import upsert


@query(
    "t2_sliding_window",
    oracle=f"""
        SELECT event_type AS series,
               time_bucket(INTERVAL '6 hours', ts) - k * INTERVAL '6 hours' AS wstart,
               count(*) AS n,
               {sql_dsum("value")} AS total
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
        GROUP BY 1, 2
    """,
    tags=("T2",),
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-day windows every 6 hours: each event lands in 4
    overlapping windows (epoch-aligned in both engines)."""
    e = events_us(spark, sf_dir)
    return (
        e.groupBy(
            F.col("event_type").alias("series"),
            F.window("ts", "1 day", "6 hours").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .select("series", F.col("w.start").alias("wstart"), "n", "total")
    )


@query(
    "t3_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n,
               {sql_dsum("value")} AS total
        FROM sessions
        GROUP BY user_id, sid
    """,
    tags=("T3",),
)
def t3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user via
    ``F.session_window`` — the oracle reproduces it with the classic
    islands construction (lag → flag → running sum)."""
    e = events_us(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("session_start"), "n", "total")
    )


@query(
    "t5_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("T5",),
)
def t5_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based dedup — batch twin of ``dropDuplicatesWithinWatermark``
    (the streaming variant runs in t4's smoke path)."""
    return events_us(spark, sf_dir).select("user_id", "event_type").dropDuplicates()


@query(
    "t6_first_threshold_cross",
    oracle=f"""
        WITH purchases AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        ),
        running AS (
            SELECT user_id, ts,
                   CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                       AS cum_spend
            FROM purchases
        )
        SELECT user_id, min(ts) AS first_cross_ts
        FROM running
        WHERE cum_spend > 1000
        GROUP BY user_id
    """,
    tags=("T6",),
)
def t6_first_threshold_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running state with an alert condition: first moment
    cumulative purchase value exceeds 1000 — the batch twin of a
    transformWithState stream (keyed running accumulator + emit-once)."""
    from pyspark.sql import Window

    e = events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = e.select(
        "user_id", "ts", F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("cum_spend")
    )
    return (
        running.filter(F.col("cum_spend") > 1000)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_cross_ts"))
    )


# --- genuine streaming runs (rows-only) --------------------------------------


def _assert_single_data_batch(q) -> None:
    """Pin the assumption the stream-stream-join oracles (t8/t14) rest on:
    availableNow drained the staged source in ONE data microbatch (no
    maxFilesPerTrigger, single listing), so the watermark — computed at
    batch START, hence 0 for that batch — cannot evict join state or
    reject input mid-run. If `_stream_events` staging ever changes to
    many files consumed across batches, or someone adds a trigger limit,
    this raises loudly instead of surfacing as a puzzling hash flake."""
    data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if data_batches != 1:
        raise RuntimeError(
            "stream-stream join oracle requires a single-data-batch "
            f"availableNow drain; observed {data_batches} data batches "
            "(did _stream_events staging or trigger options change?)"
        )


def _drain(
    stream: DataFrame,
    mode: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter] | None = None,
    single_batch: bool = False,
) -> DataFrame | None:
    """Run ``stream`` to the end of its input with an ``availableNow``
    trigger, in ``mode``. Without ``sink`` the rows land in a memory table,
    returned as a frame; ``sink`` configures any other writer (format,
    path, checkpoint) and nothing is returned. ``single_batch`` applies
    :func:`_assert_single_data_batch` to the finished query.

    Streaming queries materialize one state-store instance per shuffle
    partition, sized at FIRST start and pinned by the checkpoint — these
    test-scale runs use fresh checkpoints, so the scoped clamp is safe and
    cuts per-batch state overhead ~25× under a default (200-partition)
    session. On a real cluster you'd size this to the state volume.

    A query still running after two minutes means the trigger never
    drained: it is stopped and raises, instead of returning a silently
    truncated result."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    writer = stream.writeStream.outputMode(mode)
    writer = sink(writer) if sink else writer.format("memory").queryName(name)
    with scoped_conf(stream.sparkSession, **{"spark.sql.shuffle.partitions": "8"}):
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("streaming query did not finish within 120s")
    if single_batch:
        _assert_single_data_batch(q)
    return None if sink else stream.sparkSession.table(name)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet; ``ts`` normalized to canonical
    TimestampType exactly like the batch path (sources.tables.normalize_ts —
    ``withWatermark`` requires TIMESTAMP, rejects TIMESTAMP_NTZ)."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # The file-stream source requires a directory of files (it tails the
    # dir for new arrivals); the read-only testdata is one file per table,
    # so stage a copy once per process into a scratch directory — exactly
    # how a landing zone works.
    land = scratch_path("stream_src", sf_dir)
    src = f"{sf_dir}/events.parquet"
    done = os.path.join(land, "_staged")  # leading _ → invisible to the source
    if not os.path.exists(done):
        os.makedirs(scratch("stream_src", sf_dir))
        if os.path.isdir(src):
            # multi-part dataset (e.g. the stress harness's scaled
            # warehouses): stage the part files FLAT into the landing dir
            # — the file-stream source lists the monitored directory, it
            # does not recurse into non-partition subdirectories
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copyfile(os.path.join(src, f), os.path.join(land, f))
        else:
            shutil.copyfile(src, os.path.join(land, "events.parquet"))
        open(done, "w").write("ok")
    stream = spark.readStream.schema(batch.schema).parquet(land)
    return normalize_ts(stream)


@query(
    "t4_watermark_stream",
    oracle="""
        WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
        agg AS (
            SELECT event_type AS series,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT series, bucket, n FROM agg CROSS JOIN mx
        WHERE bucket + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
    """,
    tags=("T4", "eager"),
)
def t4_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming run: watermarked hourly counts per
    series, availableNow trigger, in-memory sink.

    Hash-graded (r07 VERDICT item 7): append mode emits exactly the
    FINALIZED buckets — windows whose end has passed the final watermark
    (max event time − 2 h), flushed by availableNow's closing no-data
    batch. That subset IS deterministic and SQL-expressible, so the
    oracle selects hourly counts with ``bucket_end <= max(ts) − 2h``;
    the live (unemitted) tail buckets are excluded on both engines.

    The watermark bounds state: buckets older than 2h past the max event
    time are finalized and evicted — the knob that keeps 100 TB streams at
    O(active windows) state, not O(history).
    """
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.col("event_type").alias("series"), F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("series", F.col("w.start").alias("bucket"), "n")
    )
    return _drain(agg, "append")


@query(
    "t7_stream_sink",
    oracle="""
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    tags=("T7", "eager"),
)
def t7_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet sink with checkpoint — the reference's append-to-
    warehouse update loop [R] as a real writeStream.

    Hash-graded (not rows-only): availableNow drains the whole source into
    the parquet sink exactly once (fresh sink + checkpoint per run), so the
    re-read per-series counts equal the batch counts no matter how the
    file source split microbatches — the sink's exactly-once contract IS
    the graded property."""
    out = scratch("t7_stream_sink", sf_dir)
    data, ckpt = os.path.join(out, "data"), os.path.join(out, "ckpt")
    stream = _stream_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    _drain(
        stream,
        "append",
        sink=lambda w: w.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt),
    )
    back = spark.read.parquet(data)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "t6_stateful_stream",
    oracle="""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) / 100.0 AS total_spend,
               count(CASE WHEN event_type = 'purchase' THEN 1 END)
                   AS n_purchases
        FROM events
        GROUP BY user_id
    """,
    tags=("T6", "stream", "eager"),
)
def t6_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming: per-user cumulative spend via
    ``applyInPandasWithState`` over a genuine microbatch run — the
    streaming twin of ``t6_first_threshold_cross``.

    Hash-graded (was rows-only through r08, VERDICT r08 task 4): a single
    availableNow drain (pinned by ``_assert_single_data_batch``, t8's
    argument) delivers every user's events in ONE batch, so update mode
    emits exactly one row per user holding the final cumulative state —
    which IS the batch group-by the oracle runs. Money is carried as
    integer cents inside the state (events.value is exactly 2-dp at every
    SF, so ``round(value·100)`` is an exact integer on both engines and
    int64 addition is order-independent — no float-sum-order hazard); the
    final cents→double division is the identical IEEE operation on both
    sides.

    State is one (cents, count) pair per user key, sharded across
    executors by the groupBy — the shape that holds at any key
    cardinality; on a true unbounded feed you'd add a timeout to retire
    dormant users.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # nested so cloudpickle ships it by value (workers lack this package)
    def track_spend(key, pdfs, state: GroupState):
        import pandas as _pd

        cents, n = state.get() if state.exists else (0, 0)
        for pdf in pdfs:
            buys = pdf[pdf["event_type"] == "purchase"]
            cents += int(buys["value_c"].sum())
            n += int(len(buys))
        state.update((cents, n))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_spend": [cents / 100.0],
                "n_purchases": [n],
            }
        )

    stream = _stream_events(spark, sf_dir).withColumn(
        # exact integer cents BEFORE the Python surface: int64 state
        # addition is associative, so the result is order- and
        # partitioning-independent (unlike a float running sum)
        "value_c", F.round(F.col("value") * 100).cast("long")
    )
    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            track_spend,
            outputStructType="user_id long, total_spend double, n_purchases long",
            stateStructType="cents long, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain(out, "update", single_batch=True)


@query(
    "t9_stream_upsert",
    oracle=candles_oracle(SQL_HOUR),
    tags=("T9", "stream", "eager"),
)
def t9_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming candle maintenance: an update-mode streaming aggregation
    whose microbatches are upserted into a parquet candle store via
    ``foreachBatch`` — the production pattern for keeping a warehouse
    current from a feed (and the genuine-stream twin of ``s6_merge_upsert``:
    the same :func:`~datums_warehouse_spark.operators.candles.candles`
    aggregate as T1, bucketed by the hourly window's start, and the same
    ``warehouse.upsert`` as ``Warehouse.merge``).

    Update mode emits only the (series, hour) bars each microbatch touched;
    the upsert replaces exactly those keys in the store (union ∪ anti-join,
    dynamic-overwrite shape). Because the upsert is idempotent per key, the
    final store equals the batch candles — so a real ``readStream`` run is
    fully ORACLE-GRADED, not rows-only: restarts/retries converge to the
    same table, which is the exactly-once argument foreachBatch sinks rely
    on. State shards by (series, bucket); the watermark would bound it on
    an unbounded feed.

    Fully graded end-to-end: stream → state store → foreachBatch merge →
    parquet → read-back.
    """
    out = scratch("t9_stream_upsert", sf_dir)
    store, ckpt = os.path.join(out, "store"), os.path.join(out, "ckpt")
    agg = candles(_stream_events(spark, sf_dir), F.window("ts", "1 hour").start)

    def revise(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(store):
            stored = batch.sparkSession.read.parquet(store)
            batch = upsert(stored, batch, ["series", "bucket"])
        batch.write.mode("overwrite").parquet(store)

    _drain(
        agg,
        "update",
        sink=lambda w: w.foreachBatch(revise).option("checkpointLocation", ckpt),
    )
    return spark.read.parquet(store)


@query(
    "t8_stream_stream_join",
    oracle="""
        WITH e AS (
            -- µs cast: Spark sees ts truncated to micros (tables.py rule)
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        )
        SELECT p.user_id AS user_id, count(*) AS n_pairs
        FROM e p
        JOIN e c
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
        GROUP BY p.user_id
    """,
    tags=("T8", "stream", "eager"),
)
def t8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched to
    the same user's clicks in the preceding 30 minutes, run as a genuine
    two-stream microbatch join (comp3_funnel_conversion is the
    batch-graded twin of this shape).

    Hash-graded (was rows-only through r07): an INNER stream-stream join
    emits every matched pair exactly once — watermarks only bound state
    eviction and late-input admission, so the emitted set equals the
    batch interval join whenever no input row arrives after the watermark
    has passed it. Two structural facts make that hold here: (a) the
    graded runs stage the source as parquet files consumed with NO
    maxFilesPerTrigger limit, so availableNow drains everything in one
    microbatch — the watermark (computed at batch START, so the first
    batch runs with watermark 0) cannot evict or reject anything before
    the join completes; (b) the per-user pair-count aggregate keys the
    result deterministically regardless of emission order. On a true
    unbounded feed the same query stays correct for inputs whose disorder
    is under the 1 h watermark delay — the documented contract of the
    operator — while state stays O(1 h × active users), sharded by the
    user_id join key, not O(stream history).
    """
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), F.col("event_id"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "event_id", "purchase_ts", "click_ts", "click_value")
    # stable small result: pairs per user (the memory sink holds raw pairs)
    return (
        _drain(joined, "append", single_batch=True)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "t10_session_stream",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
            FROM events
        ),
        mx AS (SELECT max(ts) AS m FROM ev),
        flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n,
                   {sql_dsum("value")} AS total
            FROM (
                SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            GROUP BY user_id, sid
        )
        SELECT user_id, session_start, n, total
        FROM sess CROSS JOIN mx
        WHERE session_end + INTERVAL 30 MINUTE <= m - INTERVAL 2 HOUR
    """,
    tags=("T3", "T4", "eager"),
)
def t10_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a genuine stream: watermarked
    ``session_window`` with availableNow trigger.

    Hash-graded via the same finalized-subset argument as t4 (r07 VERDICT
    item 7): append mode emits exactly the CLOSED sessions — windows whose
    end (last event + 30 min gap) has passed the final watermark
    (max event time − 2 h), flushed by availableNow's closing no-data
    batch. That subset is deterministic and SQL-expressible: 30-min-gap
    islands per user (t3's oracle) filtered to
    ``session_end + gap <= max(ts) − 2h``; the still-open tail sessions
    are excluded on both engines. Decimal-exact totals make the rows
    microbatch-order-independent.

    Session state is keyed (user, open session) and MERGED as events
    arrive — sessions extend or fuse when a new event lands within the
    gap — then emitted and evicted once the watermark passes the close.
    That merge-and-evict lifecycle is the O(active sessions) state bound
    a 100 TB clickstream needs; it only exists on the streaming path.
    """
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("session_start"), "n", "total")
    )
    return _drain(agg, "append")


@query(
    "t12_stream_static_join",
    oracle=f"""
        SELECT c.c_mktsegment AS segment,
               e.event_type AS series,
               count(*) AS n_events,
               {sql_dsum("e.value")} AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    tags=("T12", "stream", "eager"),
)
def t12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the third Structured Streaming join kind next
    to t8's stream-stream join: a live event feed enriched against a slow
    dimension table (here customer segments) with NO join state at all.
    The static side is planned once and broadcast into every microbatch;
    unmatched stream rows drop as in any inner join, and the dimension
    can be re-read per batch for slowly-changing lookups.

    The enriched feed rolls up per (segment, series) in COMPLETE output
    mode, so once availableNow drains the source the emitted table IS the
    batch aggregate — a genuine ``readStream`` run that is fully
    ORACLE-GRADED (like t9), not rows-only. Decimal-exact sums make the
    result microbatch-order-independent: however the file source splits
    the input, the final table hashes identically.

    At 100 TB of stream history this is the canonical enrichment shape:
    per-batch state is zero (no watermark needed — the join holds
    nothing), the dimension broadcast is bounded by the dim size, and the
    aggregation state is O(|segments| × |series|), both independent of
    feed volume.
    """
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        _stream_events(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("segment", F.col("event_type").alias("series"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    return _drain(agg, "complete")


@query(
    "t13_stream_dedup_watermark",
    oracle="""
        SELECT DISTINCT user_id,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket
        FROM events
    """,
    tags=("T13", "stream", "eager"),
)
def t13_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state —
    ``dropDuplicatesWithinWatermark`` (the Spark 3.5+ streaming-dedup
    primitive t5 grades in batch): one row per (user, hour) from a live
    feed, the at-least-once-source dedup step in front of any downstream
    stream aggregate.

    Hash-graded like t9/t12, not rows-only: the projected stream carries
    ONLY the dedup key columns (user_id + the hour bucket, which is also
    the event-time/watermark column), so every duplicate row is
    bit-identical to its survivor and the emitted append-mode table is
    exactly DISTINCT(user_id, hour) no matter how the file source splits
    microbatches or which physical row is "first" — the usual
    nondeterminism of streaming dedup (surviving row = arrival order) is
    engineered out by keying on the full projection.

    The watermark delay is the state-retention knob: a duplicate arriving
    within the delay of its first occurrence is dropped, later ones would
    re-emit. The test delay (45 days) exceeds the fixture's whole span so
    the run is exact distinct; production sets it to the real replay
    horizon (e.g. 48 h) and state stays O(keys within horizon), not
    O(history) — the property that makes this viable on a 100 TB feed.
    """
    keyed = (
        _stream_events(spark, sf_dir)
        .select("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .withWatermark("bucket", "45 days")
    )
    deduped = keyed.dropDuplicatesWithinWatermark(["user_id", "bucket"])
    return _drain(deduped, "append")


@query(
    "t14_stream_outer_join",
    oracle="""
        WITH p AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        wm AS (
            SELECT least((SELECT max(click_ts) FROM c),
                         (SELECT max(purchase_ts) FROM p))
                   - INTERVAL 1 HOUR AS w
        ),
        matched AS (
            SELECT p.user_id, p.event_id
            FROM p JOIN c
              ON c.user_id = p.user_id
             AND c.click_ts <= p.purchase_ts
             AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
        ),
        m_agg AS (
            SELECT user_id,
                   count(*) AS n_matched,
                   count(DISTINCT event_id) AS matched_purchases
            FROM matched GROUP BY user_id
        ),
        u_agg AS (
            SELECT p.user_id, count(*) AS n_unmatched
            FROM p CROSS JOIN wm
            WHERE p.purchase_ts < wm.w
              AND NOT EXISTS (
                  SELECT 1 FROM c
                  WHERE c.user_id = p.user_id
                    AND c.click_ts <= p.purchase_ts
                    AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
              )
            GROUP BY p.user_id
        )
        SELECT coalesce(m.user_id, u.user_id) AS user_id,
               coalesce(m.n_matched, 0) AS n_matched,
               coalesce(m.matched_purchases, 0) AS matched_purchases,
               coalesce(u.n_unmatched, 0) AS n_unmatched
        FROM m_agg m FULL OUTER JOIN u_agg u ON m.user_id = u.user_id
    """,
    tags=("T14", "stream", "eager"),
)
def t14_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — t8's inner join answers
    "which purchases had a preceding click"; the outer variant also emits
    the purchases that provably had NONE, which is the attribution /
    conversion-gap question. Outer emission is the genuinely streaming
    semantics here: a purchase can only be declared click-less once the
    watermark guarantees no admissible click can still arrive, so
    null-padded rows flush on state EXPIRY, not on sight.

    Hash-graded via the finalized-subset argument (t4/t10's pattern, on
    join state instead of window state): matched pairs emit exactly like
    t8's inner join (single availableNow drain — see t8), and the
    null-padded set is deterministic: availableNow's closing no-data
    batch advances the global watermark to min(max click_ts,
    max purchase_ts) − 1 h (Spark's multipleWatermarkPolicy=min over
    both inputs), and every still-unmatched buffered purchase with
    purchase_ts strictly below it expires → emits with NULL click
    columns. Purchases inside the final watermark window remain buffered
    and unemitted on BOTH engines (the oracle's wm predicate). The
    per-user rollup (matched pairs, matched distinct purchases,
    unmatched purchases) keys the grade deterministically.

    State at scale: O(1 h × active users) per side, sharded by user_id;
    the outer side adds only the expiry timers — same bound as t8.
    """
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), F.col("event_id"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select("user_id", "event_id", "purchase_ts", "click_ts")
    raw = _drain(joined, "append", single_batch=True)
    return raw.groupBy("user_id").agg(
        F.count(F.when(F.col("click_ts").isNotNull(), 1)).alias("n_matched"),
        F.countDistinct(
            F.when(F.col("click_ts").isNotNull(), F.col("event_id"))
        ).alias("matched_purchases"),
        F.count(F.when(F.col("click_ts").isNull(), 1)).alias("n_unmatched"),
    )
