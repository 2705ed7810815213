"""Time-series operators — the reference engine's identity (SURVEY.md §2.10).

The reference validates each stored series (gaps, monotonicity, dup
timestamps), interpolates missing candles, and updates incrementally from
the last stored timestamp [R — reference checkout empty, SURVEY.md §0].
Here each of those becomes a declarative plan:

- gap detection  = dense grid (sequence+explode) ⟕̸ present buckets (anti join)
- interpolation  = grid ⟕ candles, then two keyed window scans (carry
  prev/next non-null) + exact linear blend
- as-of join     = union-tag + one keyed window scan (no per-row lookup
  loop, no range explosion) — the scalable as-of shape
- incremental    = filter against the stored max-ts cursor

Every window partitions by series/user — never a global orderBy — so the
same plans hold at 100 TB (SURVEY.md §4.3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datums_warehouse_spark.functions.determinism import DEC, dsum
from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import events_us

# Hourly close per series — the candle column used by interpolation/returns.
SQL_HOURLY_CLOSE = """
    SELECT event_type AS series,
           date_trunc('hour', ts) AS bucket,
           arg_max(value, ts) AS close
    FROM events
    GROUP BY 1, 2
"""


def _hourly_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    # this and _daily_close are not projections of candles(): column
    # pruning gives the same plan, but building and analysing the five
    # unused aggregates cost 10-30 ms per query (x2, x5, x6; 4 cores)
    e = events_us(spark, sf_dir)
    return e.groupBy(
        F.col("event_type").alias("series"), F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.max_by("value", "ts").alias("close"))


def _grid(df: DataFrame, grain: str) -> DataFrame:
    """Dense per-series grid of ``grain`` buckets (a ``date_trunc`` unit)
    spanning [min(bucket), max(bucket)]."""
    bounds = df.groupBy("series").agg(F.min("bucket").alias("h0"), F.max("bucket").alias("h1"))
    step = F.expr(f"INTERVAL 1 {grain.upper()}")
    return bounds.select("series", F.explode(F.sequence("h0", "h1", step)).alias("bucket"))


def gaps(buckets: DataFrame, grain: str) -> DataFrame:
    """Missing ``grain`` buckets per series of a (series, bucket) frame:
    dense grid ⟕̸ present buckets. The shared core of the graded
    ``x2_gap_detection`` and ``Warehouse.gaps``."""
    return _grid(buckets, grain).join(buckets, ["series", "bucket"], "left_anti")


@query(
    "x2_gap_detection",
    oracle=f"""
        WITH hourly AS ({SQL_HOURLY_CLOSE}),
        bounds AS (
            SELECT series, min(bucket) AS h0, max(bucket) AS h1 FROM hourly GROUP BY series
        ),
        grid AS (
            SELECT series, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        )
        SELECT series, bucket FROM grid g
        WHERE NOT EXISTS (
            SELECT 1 FROM hourly h WHERE h.series = g.series AND h.bucket = g.bucket
        )
    """,
    tags=("X2",),
)
def x2_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing hourly buckets per series: expected grid ∖ present buckets.

    The reference walks each series row-by-row comparing successive
    timestamps [R]; here it's sequence→explode→left_anti — both sides
    partition on (series), so the anti join co-locates without skew.
    """
    return gaps(_hourly_close(spark, sf_dir), "hour")


SQL_X3_ORACLE = f"""
        WITH hourly AS ({SQL_HOURLY_CLOSE}),
        bounds AS (
            SELECT series, min(bucket) AS h0, max(bucket) AS h1 FROM hourly GROUP BY series
        ),
        grid AS (
            SELECT series, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        ),
        joined AS (
            SELECT g.series AS series, g.bucket AS bucket, h.close AS close,
                   CAST(row_number() OVER (PARTITION BY g.series ORDER BY g.bucket) AS BIGINT)
                       AS rn
            FROM grid g LEFT JOIN hourly h ON h.series = g.series AND h.bucket = g.bucket
        ),
        marked AS (
            SELECT series, bucket, close, rn,
                   last_value(close IGNORE NULLS) OVER w_back AS prev_close,
                   last_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
                       OVER w_back AS prev_rn,
                   first_value(close IGNORE NULLS) OVER w_fwd AS next_close,
                   first_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
                       OVER w_fwd AS next_rn
            FROM joined
            WINDOW w_back AS (PARTITION BY series ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_fwd AS (PARTITION BY series ORDER BY bucket
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT series, bucket,
               CASE WHEN close IS NOT NULL THEN close
                    WHEN prev_close IS NULL THEN next_close
                    WHEN next_close IS NULL THEN prev_close
                    ELSE prev_close + (next_close - prev_close)
                         * (CAST(rn - prev_rn AS DOUBLE) / CAST(next_rn - prev_rn AS DOUBLE))
               END AS close_interp,
               close IS NULL AS filled
        FROM marked
"""


def fill_linear(closes: DataFrame, grain: str) -> DataFrame:
    """Linear-interpolate missing closes over the dense per-series grid.

    Input: (series, bucket, close) at ``grain``; output is one row per
    ``grain`` grid bucket with the interpolated value and a ``filled``
    flag. The shared core of the graded ``x3_interpolate_linear`` and
    ``Warehouse.interpolate`` — dense grid ⟕ closes, then carry (prev,
    next) non-null closes with two keyed window scans; edge buckets take
    the nearest present value.
    """
    joined = _grid(closes, grain).join(closes, ["series", "bucket"], "left")
    w = Window.partitionBy("series").orderBy("bucket")
    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    rn = F.row_number().over(w).cast("long")
    rn_if_present = F.when(F.col("close").isNotNull(), rn)
    marked = joined.select(
        "series",
        "bucket",
        "close",
        rn.alias("rn"),
        F.last("close", ignorenulls=True).over(w_back).alias("prev_close"),
        F.last(rn_if_present, ignorenulls=True).over(w_back).alias("prev_rn"),
        F.first("close", ignorenulls=True).over(w_fwd).alias("next_close"),
        F.first(rn_if_present, ignorenulls=True).over(w_fwd).alias("next_rn"),
    )
    frac = (F.col("rn") - F.col("prev_rn")).cast("double") / (
        F.col("next_rn") - F.col("prev_rn")
    ).cast("double")
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(F.col("prev_close").isNull(), F.col("next_close"))
        .when(F.col("next_close").isNull(), F.col("prev_close"))
        .otherwise(F.col("prev_close") + (F.col("next_close") - F.col("prev_close")) * frac)
    )
    return marked.select(
        "series",
        "bucket",
        interp.alias("close_interp"),
        F.col("close").isNull().alias("filled"),
    )


@query("x3_interpolate_linear", oracle=SQL_X3_ORACLE, tags=("X3",))
def x3_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hourly closes (the reference's
    missing-candle fill [R]).

    Dense grid ⟕ candles, then carry (prev, next) non-null closes and their
    row offsets with two keyed window scans; blend is pure IEEE arithmetic
    written identically in both engines, so values match bit-for-bit.
    """
    return fill_linear(_hourly_close(spark, sf_dir), "hour")


@query(
    "x4_series_validation",
    oracle="""
        WITH stats AS (
            -- mu/sigma from exact decimal sums: plain avg/stddev_samp are
            -- order-dependent double folds, and a value sitting one ulp from
            -- the 3-sigma cut would grade differently between engines
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS mu,
                   sqrt((CAST(SUM(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE)
                         - CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                           * (CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)))
                        / (count(*) - 1)) AS sigma
            FROM events GROUP BY event_type
        ),
        ordered AS (
            -- epoch_us: Spark sees µs-truncated ts (sources/tables.py rule —
            -- oracle SQL touching raw ns ts must cast to µs or coarser)
            SELECT event_type, epoch_us(ts) AS ts_us, value,
                   lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id)
                       AS prev_ts_us
            FROM events
        )
        SELECT o.event_type AS series,
               count(*) AS n,
               count(*) - count(DISTINCT o.ts_us) AS n_dup_ts,
               count(CASE WHEN o.value <= 0 THEN 1 END) AS n_nonpos,
               count(CASE WHEN o.prev_ts_us IS NOT NULL AND o.ts_us < o.prev_ts_us THEN 1 END)
                   AS n_ts_regressions,
               count(CASE WHEN abs(o.value - s.mu) > 3 * s.sigma THEN 1 END) AS n_outliers
        FROM ordered o JOIN stats s ON o.event_type = s.event_type
        GROUP BY o.event_type
    """,
    tags=("X4",),
)
def x4_series_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series-quality predicates: dup timestamps, non-positive values,
    timestamp regressions in arrival order, 3σ outliers — the reference's
    packet-validation pass [R]."""
    e = events_us(spark, sf_dir)
    # identical decimal-exact mu/sigma arithmetic as the oracle (see SQL)
    n = F.count(F.lit(1))
    s1 = dsum("value")
    s2 = dsum(F.col("value") * F.col("value"))
    stats = e.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * (s1 / n)) / (n - 1)).alias("sigma"),
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    ordered = e.withColumn("prev_ts", F.lag("ts").over(w))
    return (
        ordered.join(stats, "event_type")
        .groupBy(F.col("event_type").alias("series"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.countDistinct("ts")).alias("n_dup_ts"),
            F.count(F.when(F.col("value") <= 0, 1)).alias("n_nonpos"),
            F.count(
                F.when(F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")), 1)
            ).alias("n_ts_regressions"),
            F.count(
                F.when(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1)
            ).alias("n_outliers"),
        )
    )



# Daily close per series — used by returns (X5) and EMA (X6).
SQL_DAILY_CLOSE = """
    SELECT event_type AS series,
           date_trunc('day', ts) AS day,
           arg_max(value, ts) AS close
    FROM events
    GROUP BY 1, 2
"""


def _daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_us(spark, sf_dir)
    return e.groupBy(
        F.col("event_type").alias("series"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.max_by("value", "ts").alias("close"))


@query(
    "x5_returns",
    oracle=f"""
        WITH daily AS ({SQL_DAILY_CLOSE})
        SELECT series, day, close,
               close / lag(close) OVER (PARTITION BY series ORDER BY day) - 1 AS ret
        FROM daily
    """,
    tags=("X5",),
)
def x5_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series daily returns: close/lag(close) - 1 (SURVEY.md §2.10 X5)."""
    daily = _daily_close(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("day")
    return daily.select(
        "series", "day", "close", (F.col("close") / F.lag("close").over(w) - 1).alias("ret")
    )


@query(
    "j9_asof_join",
    oracle="""
        WITH purchases AS (
            SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            -- one click per (user, ts), ties broken by highest event_id:
            -- ASOF with duplicate right-side ts is otherwise ambiguous
            SELECT user_id, ts, arg_max(value, event_id) AS value
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        )
        SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts, p.value AS value,
               c.ts AS last_click_ts, c.value AS last_click_value
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("J9",),
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click
    at-or-before it — the canonical tsdb join (the reference's candle
    lookup semantics, SURVEY.md §2.3 J9 [R]).

    Spark has no ASOF primitive; the scalable shape is union-tag + one
    keyed window scan: tag both sides, sort within (user) by (ts, side),
    carry the last click forward. One shuffle on the join key; no range
    explosion; same cost profile as a sort-merge join.
    """
    e = events_us(spark, sf_dir)
    # Duplicate click timestamps for one user would make the carried value
    # partition-order-dependent; reduce to one click per (user, ts) first,
    # ties broken by highest event_id — mirrored by arg_max in the oracle.
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            "click_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("click_value"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "side",
        "event_id",
        "value",
        F.last("click_value", ignorenulls=True).over(w).alias("last_click_value"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("last_click_ts"),
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "value", "last_click_ts", "last_click_value"
    )


@query(
    "j9b_asof_nearest",
    oracle="""
        WITH ev AS (
            -- µs truncation: Spark reads the NANOS parquet at µs
            SELECT event_id, user_id, event_type, value,
                   CAST(ts AS TIMESTAMP) AS ts
            FROM events
        ),
        clicks AS (
            SELECT user_id, ts, arg_max(value, event_id) AS cvalue
            FROM ev WHERE event_type = 'click'
            GROUP BY user_id, ts
        ),
        tagged AS (
            SELECT user_id, ts, 0 AS side, cvalue,
                   NULL::BIGINT AS event_id, NULL::DOUBLE AS value
            FROM clicks
            UNION ALL
            SELECT user_id, ts, 1, NULL, event_id, value
            FROM ev WHERE event_type = 'purchase'
        ),
        carried AS (
            SELECT user_id, ts, side, event_id, value,
                   last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                       OVER wb AS prev_ts,
                   last_value(CASE WHEN side = 0 THEN cvalue END IGNORE NULLS)
                       OVER wb AS prev_value,
                   first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                       OVER wf AS next_ts,
                   first_value(CASE WHEN side = 0 THEN cvalue END IGNORE NULLS)
                       OVER wf AS next_value
            FROM tagged
            WINDOW
              wb AS (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wf AS (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id, ts, value,
               CASE WHEN next_ts IS NULL THEN prev_ts
                    WHEN prev_ts IS NULL THEN next_ts
                    WHEN ts - prev_ts <= next_ts - ts THEN prev_ts
                    ELSE next_ts END AS nearest_click_ts,
               CASE WHEN next_ts IS NULL THEN prev_value
                    WHEN prev_ts IS NULL THEN next_value
                    WHEN ts - prev_ts <= next_ts - ts THEN prev_value
                    ELSE next_value END AS nearest_click_value
        FROM carried WHERE side = 1
    """,
    tags=("J9", "scale"),
)
def j9b_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — the bidirectional complement of j9's
    backward-only semantics (pandas ``merge_asof(direction='nearest')``):
    each purchase matches the user's click closest in time in EITHER
    direction, ties to the earlier click (so exact-ts matches behave like
    j9). The sensor-fusion / quote-matching shape where the reading just
    AFTER can be closer than the one before.

    Same scalable construction as j9 — union-tag + keyed window scan,
    ONE shuffle on the join key — plus a second, mirror-frame window
    (first_value over CURRENT ROW→FOLLOWING) on the same sort and
    partitioning, so Spark evaluates both carries in a single WindowExec
    pass: no second shuffle, no range explosion. The nearest pick is then
    row-local µs integer arithmetic. Same-ts clicks sort before the
    purchase (side 0 < 1), landing in the backward carry at distance 0,
    which the tie rule prefers — identical cross-engine.
    """
    e = events_us(spark, sf_dir)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("cvalue"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            "cvalue",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("cvalue"),
        "event_id",
        "value",
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("side") == 0, F.col("ts"))
    click_val = F.when(F.col("side") == 0, F.col("cvalue"))
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "side",
        "event_id",
        "value",
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.last(click_val, ignorenulls=True).over(wb).alias("prev_value"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("next_ts"),
        F.first(click_val, ignorenulls=True).over(wf).alias("next_value"),
    )
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    prefer_prev = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull() & (d_prev <= d_next)
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(prefer_prev, F.col("prev_ts")).otherwise(F.col("next_ts")).alias(
            "nearest_click_ts"
        ),
        F.when(prefer_prev, F.col("prev_value"))
        .otherwise(F.col("next_value"))
        .alias("nearest_click_value"),
    )


@query(
    "s5_incremental_since",
    oracle="""
        SELECT event_type, count(*) AS n_new, max(ts) AS newest
        FROM events
        WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        GROUP BY event_type
    """,
    tags=("S5",),
)
def s5_incremental_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental since-cursor read: only rows newer than (stored max(ts)
    − 7 days) — the reference's update loop fetches from the last stored
    timestamp exactly this way (SURVEY.md §2.1 S5 [R])."""
    e = events_us(spark, sf_dir)
    cursor = e.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (
        e.join(F.broadcast(cursor))
        .filter(F.col("ts") > F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_new"), F.max("ts").alias("newest"))
    )


@query("x3b_interpolate_scaled", oracle=SQL_X3_ORACLE, tags=("X3", "scale"))
def x3b_interpolate_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-hardened linear interpolation — identical results to
    ``x3_interpolate_linear`` (same oracle), but no window ever spans a
    whole series (SURVEY.md §4.3.1).

    Rows partition by (series, 7-day chunk); the cross-chunk carry runs on
    a per-chunk summary (one row per chunk — thousands of rows at 100 TB,
    not billions), broadcast back. The global row offset the blend needs
    is derived from bucket timestamps (hours since epoch), so no global
    row_number either. Per-task work is bounded by chunk size regardless
    of series length.
    """
    hourly = _hourly_close(spark, sf_dir)
    joined = _grid(hourly, "hour").join(hourly, ["series", "bucket"], "left")

    chunk = F.floor(F.unix_timestamp("bucket") / (7 * 86400)).alias("chunk")
    hours = (F.unix_timestamp("bucket") / 3600).cast("long")
    rows = joined.select("series", "bucket", "close", chunk, hours.alias("hrs"))

    # within-chunk carries (partitioned by series AND chunk — bounded work)
    wc = Window.partitionBy("series", "chunk").orderBy("bucket")
    wc_back = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wc_fwd = wc.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    hrs_if_present = F.when(F.col("close").isNotNull(), F.col("hrs"))
    rows = rows.select(
        "series",
        "bucket",
        "close",
        "chunk",
        "hrs",
        F.last("close", ignorenulls=True).over(wc_back).alias("in_prev_close"),
        F.last(hrs_if_present, ignorenulls=True).over(wc_back).alias("in_prev_hrs"),
        F.first("close", ignorenulls=True).over(wc_fwd).alias("in_next_close"),
        F.first(hrs_if_present, ignorenulls=True).over(wc_fwd).alias("in_next_hrs"),
    )

    # per-chunk boundary summary: first/last non-null close in each chunk.
    # Built over ALL chunks in the grid (left join), not just chunks with
    # data: a chunk with zero present closes must still receive carries
    # from its neighbors, or every row in it interpolates to NULL.
    present = rows.filter(F.col("close").isNotNull())
    summary = (
        rows.select("series", "chunk")
        .distinct()
        .join(
            present.groupBy("series", "chunk").agg(
                F.max_by("close", "hrs").alias("chunk_last_close"),
                F.max("hrs").alias("chunk_last_hrs"),
                F.min_by("close", "hrs").alias("chunk_first_close"),
                F.min("hrs").alias("chunk_first_hrs"),
            ),
            ["series", "chunk"],
            "left",
        )
    )
    ws = Window.partitionBy("series").orderBy("chunk")
    carry = summary.select(
        "series",
        "chunk",
        F.last("chunk_last_close", ignorenulls=True)
        .over(ws.rowsBetween(Window.unboundedPreceding, -1))
        .alias("carry_in_close"),
        F.last("chunk_last_hrs", ignorenulls=True)
        .over(ws.rowsBetween(Window.unboundedPreceding, -1))
        .alias("carry_in_hrs"),
        F.first("chunk_first_close", ignorenulls=True)
        .over(ws.rowsBetween(1, Window.unboundedFollowing))
        .alias("carry_out_close"),
        F.first("chunk_first_hrs", ignorenulls=True)
        .over(ws.rowsBetween(1, Window.unboundedFollowing))
        .alias("carry_out_hrs"),
    )

    merged = rows.join(F.broadcast(carry), ["series", "chunk"], "left")
    prev_close = F.coalesce("in_prev_close", "carry_in_close")
    prev_hrs = F.coalesce("in_prev_hrs", "carry_in_hrs")
    next_close = F.coalesce("in_next_close", "carry_out_close")
    next_hrs = F.coalesce("in_next_hrs", "carry_out_hrs")

    # identical integer→double arithmetic as x3's (rn-prev_rn)/(next_rn-prev_rn)
    frac = (F.col("hrs") - prev_hrs).cast("double") / (next_hrs - prev_hrs).cast("double")
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(prev_close.isNull(), next_close)
        .when(next_close.isNull(), prev_close)
        .otherwise(prev_close + (next_close - prev_close) * frac)
    )
    return merged.select(
        "series",
        "bucket",
        interp.alias("close_interp"),
        F.col("close").isNull().alias("filled"),
    )


@query(
    "x6_ema",
    oracle=f"""
        WITH RECURSIVE daily AS ({SQL_DAILY_CLOSE}),
        ordered AS (
            SELECT series, day, close,
                   row_number() OVER (PARTITION BY series ORDER BY day) AS rn
            FROM daily
        ),
        ema AS (
            SELECT series, day, rn, close, close AS ema
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.series, o.day, o.rn, o.close, 0.3 * o.close + 0.7 * e.ema
            FROM ema e JOIN ordered o ON o.series = e.series AND o.rn = e.rn + 1
        )
        SELECT series, day, close, ema FROM ema
    """,
    tags=("X6", "D3"),
)
def x6_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average of daily closes (α=0.3) per series.

    EMA is inherently recursive — the one time-series primitive that
    resists window SQL — so this is the sanctioned ``applyInPandas``
    escape hatch (SURVEY.md §2.12 D3): per-series pandas recursion with
    the identical `0.3*x + 0.7*prev` IEEE ops the DuckDB recursive-CTE
    oracle performs, hence bit-equality (no rounding on either side —
    Python's round is half-to-even, DuckDB's half-away; mixing them would
    break exact grading). Grouped-map UDFs materialize each group whole in
    the Python worker, so group size is bounded by pre-aggregating to one
    row per (series, day) first — days per series, not events.
    """

    def ema_fn(pdf):
        pdf = pdf.sort_values("day").reset_index(drop=True)
        out, prev = [], None
        for x in pdf["close"]:
            prev = x if prev is None else 0.3 * x + 0.7 * prev
            out.append(prev)
        pdf["ema"] = out
        return pdf[["series", "day", "close", "ema"]]

    daily = _daily_close(spark, sf_dir)
    return daily.groupBy("series").applyInPandas(
        ema_fn, schema="series string, day timestamp, close double, ema double"
    )


CORR_WINDOW = 7  # trailing days


@query(
    "x7_rolling_corr",
    oracle=f"""
        WITH daily AS ({SQL_DAILY_CLOSE}),
        j AS (
            SELECT x.day AS day, x.close AS x, y.close AS y
            FROM (SELECT day, close FROM daily WHERE series = 'click') x
            JOIN (SELECT day, close FROM daily WHERE series = 'purchase') y
                USING (day)
        ),
        wins AS (
            SELECT day,
                   CAST(COUNT(*) OVER w AS DOUBLE) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x * y AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x * x AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y * y AS DECIMAL(25,6))) OVER w AS DOUBLE) AS syy
            FROM j
            WINDOW w AS (ORDER BY day ROWS BETWEEN {CORR_WINDOW - 1} PRECEDING
                                              AND CURRENT ROW)
        )
        SELECT day, CAST(n AS BIGINT) AS n_obs,
               round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                          THEN (n * sxy - sx * sy)
                               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                     END, 6) AS corr_7d
        FROM wins
    """,
    tags=("X7",),
)
def x7_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day Pearson correlation between two series' daily closes
    (click vs purchase) — the cross-series co-movement query of a
    time-series warehouse.

    All five running sums go through exact decimal accumulation (see
    functions/determinism.py) so the window algebra is bit-identical
    cross-engine; the correlation itself is then plain IEEE arithmetic
    written identically in both. Degenerate windows (a constant series →
    zero variance) yield NULL, guarded the same way on both sides.

    Scale shape (r07 VERDICT: the graded plan must BE the scale plan):
    the frame is built over ALL ordered series pairs — a day-equijoin of
    the daily closes with themselves (S² rows/day for S series, the
    intended fan-out of an all-pairs correlation matrix) — and the
    rolling sums run under ``Window.partitionBy(sa, sb)``, so every
    window scan is local to its pair's shuffle partition; no
    unpartitioned WindowExec exists at any fan-out. The graded output
    filters to the (click, purchase) pair AFTER the window, keeping the
    single-pair oracle; Catalyst is free to push the partition-key
    predicate through the window, which only shrinks the work, never the
    plan shape.
    """
    daily = _daily_close(spark, sf_dir)
    a = daily.select(F.col("series").alias("sa"), "day", F.col("close").alias("x"))
    b = daily.select(F.col("series").alias("sb"), "day", F.col("close").alias("y"))
    j = a.join(b, "day").filter(F.col("sa") < F.col("sb"))
    w = (
        Window.partitionBy("sa", "sb")
        .orderBy("day")
        .rowsBetween(-(CORR_WINDOW - 1), Window.currentRow)
    )

    def wsum(c):
        return F.sum(c.cast(DEC)).over(w).cast("double")

    wins = j.select(
        "sa",
        "sb",
        "day",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        wsum(F.col("x")).alias("sx"),
        wsum(F.col("y")).alias("sy"),
        wsum(F.col("x") * F.col("y")).alias("sxy"),
        wsum(F.col("x") * F.col("x")).alias("sxx"),
        wsum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        wins.filter((F.col("sa") == "click") & (F.col("sb") == "purchase"))
        .select(
            "day",
            F.col("n").cast("long").alias("n_obs"),
            F.round(
                F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
            ).alias("corr_7d"),
        )
    )


M4_BUCKETS_PER_DAY = 4  # "pixel" width: 6 hours


@query(
    "x8_m4_downsample",
    oracle=f"""
        WITH px AS (
            SELECT event_type AS series,
                   time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS bucket,
                   epoch_us(ts) AS ts_us, event_id, value
            FROM events
        ),
        marks AS (
            -- tie-break: duplicate ts within a pixel would make arg_min/max
            -- partition-order-dependent; pack (ts_us, event_id) into one
            -- exact integer key (event_id < 10^7 by the testdata contract)
            SELECT series, bucket,
                   min(value) AS v_min, max(value) AS v_max,
                   arg_min(value, ts_us::HUGEINT * 10000000 + event_id) AS v_first,
                   arg_max(value, ts_us::HUGEINT * 10000000 + event_id) AS v_last,
                   min(ts_us) AS t_first, max(ts_us) AS t_last,
                   count(*) AS n
            FROM px GROUP BY series, bucket
        )
        SELECT series, bucket, v_min, v_max, v_first, v_last,
               t_first, t_last, n
        FROM marks
    """,
    tags=("X8",),
)
def x8_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling: per (series, pixel bucket) keep the
    min, max, first, and last values — the canonical error-free line-chart
    downsample (M4, Jugel et al., VLDB 2014) and the shape a charting REST
    endpoint serves instead of raw points [R: the reference's REST reads
    feed charts].

    One hash aggregate over pixel buckets — the same single-shuffle plan as
    candles (A8); a 100 TB series downsamples to width×4 points no matter
    how many raw rows back it. first/last order on (ts_us, event_id) packed
    into one exact integer key — duplicate timestamps within a pixel would
    otherwise make the pick partition-order-dependent (the j9 tie-break
    lesson, ADVICE r1).
    """
    e = events_us(spark, sf_dir)
    ts_us = F.unix_micros("ts")
    # 6h pixel buckets, epoch-aligned exactly like DuckDB's time_bucket
    bucket = F.timestamp_seconds(F.floor(ts_us / (6 * 3600 * 1_000_000)) * 6 * 3600)
    okey = F.col("ts_us").cast("decimal(27,0)") * 10000000 + F.col("event_id")
    return (
        e.select(
            F.col("event_type").alias("series"),
            bucket.alias("bucket"),
            ts_us.alias("ts_us"),
            "event_id",
            "value",
        )
        .groupBy("series", "bucket")
        .agg(
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min_by("value", okey).alias("v_first"),
            F.max_by("value", okey).alias("v_last"),
            F.min("ts_us").alias("t_first"),
            F.max("ts_us").alias("t_last"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ZS_WINDOW = 24  # trailing buckets per anomaly window


@query(
    "x9_rolling_zscore",
    oracle=f"""
        WITH hourly AS ({SQL_HOURLY_CLOSE}),
        rolled AS (
            SELECT series, bucket, close,
                   count(*) OVER w AS n,
                   CAST(SUM(CAST(close AS DECIMAL(25,6))) OVER w AS DOUBLE) AS s1,
                   CAST(SUM(CAST(close * close AS DECIMAL(25,6))) OVER w AS DOUBLE) AS s2
            FROM hourly
            WINDOW w AS (PARTITION BY series ORDER BY bucket
                         ROWS BETWEEN {ZS_WINDOW - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT series, bucket, close,
               round(CASE WHEN n > 1 AND v > 0
                          THEN (close - s1 / n) / sqrt(v) END, 6) AS z,
               CASE WHEN n > 1 AND v > 0
                    THEN abs(close - s1 / n) > 3 * sqrt(v)
                    ELSE FALSE END AS is_anomaly
        FROM (
            SELECT *, greatest((s2 - s1 * (s1 / n)) / greatest(n - 1, 1), 0) AS v
            FROM rolled
        )
    """,
    tags=("X9",),
)
def x9_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each hourly close scored against the
    trailing 24-bucket mean/σ of its own series — the rolling variant of
    X4's global outlier pass and the alert rule a live feed runs (a level
    shift is anomalous against recent history long before it moves the
    global σ).

    Decimal-exact trailing sums (Σx, Σx²) feed the same sample-variance
    identity as X4, so mean and σ are bit-identical cross-engine; one
    keyed window scan, no self-join — at 100 TB the window state is
    24 rows per series per task. Windows shorter than 2 points (or with
    zero variance) yield NULL z and no flag, guarded identically on both
    sides.
    """
    hourly = _hourly_close(spark, sf_dir)
    w = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(-(ZS_WINDOW - 1), Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(F.col("close").cast(DEC)).over(w).cast("double")
    s2 = F.sum((F.col("close") * F.col("close")).cast(DEC)).over(w).cast("double")
    # greatest(n-1, 1): single-point windows are guarded to NULL z / False
    # flag below, but ANSI Spark would raise on the 0 denominator before the
    # guard applies — the clamped denominator never reaches the output
    # variance clamped at 0: cancellation in s2 - s1*mu can go a few ulps
    # negative on constant windows (DuckDB's sqrt raises there, Spark yields
    # NaN) — clamped, both guards see v == 0 and emit NULL z / False flag
    var = F.greatest(
        (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n")))
        / F.greatest(F.col("n") - 1, F.lit(1)),
        F.lit(0.0),
    )
    mu = F.col("s1") / F.col("n")
    guard = (F.col("n") > 1) & (var > 0)
    z = F.when(guard, (F.col("close") - mu) / F.sqrt(var))
    flag = F.when(guard, F.abs(F.col("close") - mu) > 3 * F.sqrt(var)).otherwise(False)
    return (
        hourly.select("series", "bucket", "close", n.alias("n"), s1.alias("s1"), s2.alias("s2"))
        .select(
            "series",
            "bucket",
            "close",
            F.round(z, 6).alias("z"),
            flag.alias("is_anomaly"),
        )
    )


@query(
    "x10_drawdown",
    oracle=f"""
        WITH daily AS ({SQL_DAILY_CLOSE}),
        pk AS (
            SELECT series, day, close,
                   max(close) OVER (PARTITION BY series ORDER BY day
                                    ROWS UNBOUNDED PRECEDING) AS peak
            FROM daily
        )
        SELECT series, day, close, peak,
               CASE WHEN peak != 0 THEN (peak - close) / peak END AS drawdown,
               peak = close AS at_peak
        FROM pk
    """,
    tags=("X10",),
)
def x10_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown per series (X10): the high-watermark risk
    metric a trading TSDB reports next to returns — for each day, the
    all-time-high close so far and the fractional distance below it.

    Scale shape: one keyed aggregate to daily closes, then a single
    ``Window.partitionBy(series)`` running max — same partitioned-window
    discipline as every X-family operator, no global sort anywhere; the
    division is the only double op and both engines compute it from
    identical inputs (closes are raw stored values, the peak a max —
    no accumulation drift). A zero peak (series whose high-watermark is
    0) yields NULL on BOTH engines — without the guard Spark's ANSI mode
    raises DIVIDE_BY_ZERO where DuckDB returns NULL, so a fixture with a
    leading zero close would crash the graded run instead of grading it.
    """
    daily = _daily_close(spark, sf_dir)
    w = (
        Window.partitionBy("series")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "series",
        "day",
        "close",
        F.max("close").over(w).alias("peak"),
    ).select(
        "series",
        "day",
        "close",
        "peak",
        F.when(
            F.col("peak") != 0, (F.col("peak") - F.col("close")) / F.col("peak")
        ).alias("drawdown"),
        (F.col("peak") == F.col("close")).alias("at_peak"),
    )


# --- X11: time-weighted average price ----------------------------------------

HOUR_US = 3_600_000_000  # one hour in microseconds


@query(
    "x11_twap",
    oracle=f"""
        WITH o AS (
            -- epoch_us: Spark sees µs-truncated ts (sources/tables.py rule)
            SELECT event_type AS series,
                   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   epoch_us(ts) AS ts_us,
                   epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS b0,
                   value,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY event_type
                       ORDER BY epoch_us(ts), event_id) AS nxt
            FROM events
        ),
        d AS (
            SELECT series, bucket, value,
                   least(coalesce(nxt, b0 + {HOUR_US}), b0 + {HOUR_US}) - ts_us
                       AS dt
            FROM o
        )
        SELECT series, bucket, count(*) AS n,
               CAST(sum(dt) AS BIGINT) AS dwell_us,
               CASE WHEN sum(dt) > 0
                    THEN CAST(SUM(CAST(value AS DECIMAL(12,2)) * dt) AS DOUBLE)
                         / CAST(sum(dt) AS DOUBLE) END AS twap
        FROM d GROUP BY series, bucket
    """,
    tags=("X11",),
)
def x11_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly TWAP (time-weighted average price) per series: each observed
    value weighted by how long it remained the latest print inside the
    bucket — the fill benchmark a trading warehouse publishes next to
    A8's VWAP, and a different statistic entirely (VWAP weights by traded
    size, TWAP by elapsed time; sparse bursts move VWAP but barely move
    TWAP).

    Dwell time = min(next print, bucket end) − print time, carried to the
    bucket boundary for the last print of each bucket (last-observation-
    carried-forward, truncated at the hour). Duplicate timestamps get
    zero dwell except the final one in (ts, event_id) order — the same
    deterministic tie-break as the oracle's window.

    Determinism: dwell times are INTEGER microseconds (exact lead/subtract
    arithmetic), and the value·dt products are computed IN DECIMAL — value
    cast to decimal(12,2) first (the stored doubles are exact 2-dp prices,
    identical on both engines), then multiplied by the integer dwell — so
    every product and the per-bucket sum are exact; the final division is
    the only float op. Two cross-engine cast hazards shape this: (a)
    casting the DOUBLE product value*dt to decimal does not grade — Spark
    rounds the double's full binary expansion at the target scale while
    DuckDB rounds its shortest decimal representation, 1 ulp apart on
    dirty products; (b) scale 2 (not 6) keeps the scaled integer sum under
    2^53 — per bucket Σdt ≤ 1 hour because dwells tile the hour, so the
    sum is ≤ max_price·3.6e9·100 ≈ 2e14 at ANY corpus size — which makes
    DuckDB's decimal→double (int128/10^scale, two roundings) exact and
    therefore equal to Spark's correctly-rounded conversion.

    Scale shape: one window keyed by series (at production scale, by
    symbol — the same per-key discipline as every X-family scan; no
    global order anywhere), then one map-side-combinable hash aggregate.
    The window and the aggregate share the series key, so AQE can reuse
    the exchange rather than shuffle twice.
    """
    e = events_us(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("ts_us", "event_id")
    o = e.select(
        F.col("event_type").alias("series"),
        F.date_trunc("hour", "ts").alias("bucket"),
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.date_trunc("hour", "ts")).alias("b0"),
        "value",
        "event_id",
    ).withColumn("nxt", F.lead("ts_us").over(w))
    end = F.col("b0") + F.lit(HOUR_US)
    d = o.select(
        "series",
        "bucket",
        "value",
        (F.least(F.coalesce("nxt", end), end) - F.col("ts_us")).alias("dt"),
    )
    return d.groupBy("series", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dt").alias("dwell_us"),
        F.when(
            F.sum("dt") > 0,
            F.sum(F.col("value").cast("decimal(12,2)") * F.col("dt"))
            .cast("double")
            / F.sum("dt").cast("double"),
        ).alias("twap"),
    )


# --- X12: cohort retention ----------------------------------------------------


@query(
    "x12_cohort_retention",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
            FROM events
        ),
        cohort AS (
            SELECT user_id, min(day) AS c0 FROM act GROUP BY user_id
        ),
        sizes AS (SELECT c0, count(*) AS cohort_size FROM cohort GROUP BY c0)
        SELECT c.c0 AS cohort_day,
               CAST(datediff('day', c.c0, a.day) AS BIGINT) AS day_offset,
               count(*) AS n_active,
               s.cohort_size,
               CAST(count(*) AS DOUBLE) / s.cohort_size AS retention
        FROM act a
        JOIN cohort c USING (user_id)
        JOIN sizes s ON s.c0 = c.c0
        GROUP BY c.c0, day_offset, s.cohort_size
    """,
    tags=("X12",),
)
def x12_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic warehouse engagement report:
    users grouped by the day they first appeared (their cohort), then for
    every later day the fraction of that cohort still active. The output
    is the triangular (cohort_day, day_offset) grid a retention heatmap
    renders.

    All counts are integers and the offset is exact day arithmetic; the
    single division is the only float, computed from identical integers
    on both engines. Scale shape: one distinct-projection hash aggregate
    to (user, day) activity — the corpus collapses to at most
    users × days rows before anything else happens — one per-user min
    for the cohort assignment, one user-keyed equi-join back (shuffle
    shared with the distinct's partitioning), a broadcast of the
    #cohorts-row size table, and a final map-side-combinable rollup. No
    windows, no self-join over raw events; at 100 TB the only
    corpus-sized pass is the first aggregate.
    """
    e = events_us(spark, sf_dir)
    act = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("c0"))
    sizes = cohort.groupBy("c0").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.join(cohort, "user_id")
        .select(
            F.col("c0").alias("cohort_day"),
            F.datediff("day", "c0").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(
            F.broadcast(sizes.withColumnRenamed("c0", "cohort_day")),
            "cohort_day",
        )
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


@query(
    "x13_dow_hour_profile",
    oracle="""
        SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hr,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value)
                   AS avg_value
        FROM events
        GROUP BY dow, hr
    """,
    tags=("X13",),
)
def x13_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour seasonal load profile — the weekly seasonality
    matrix an ops/trading dashboard derives from any event-time series
    (count and exact-decimal mean value per (weekday, hour) cell, Monday
    = 0 matching Spark's weekday() and DuckDB's isodow()-1).

    Bucketing runs on the canonical naive wall clock (events_us +
    UTC-pinned session), so the profile is host-timezone independent —
    the same discipline as every X-family bucketing op.

    Scale shape: one projection inside codegen + one hash aggregate onto
    at most 168 cells — map-side combine reduces each task to its own
    168-row partial, the exchange carries almost nothing."""
    from datums_warehouse_spark.functions.determinism import davg

    e = events_us(spark, sf_dir)
    return (
        e.select(
            F.weekday("ts").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
            "value",
        )
        .groupBy("dow", "hr")
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_value"))
    )
