"""Warehouse facade round-trip: the reference's library-path semantics
(store → retrieve → incremental update → candles/validate/gaps) against a
real on-disk warehouse."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datums_warehouse_spark.operators.timeseries import x2_gap_detection
from datums_warehouse_spark.sources.tables import events_us
from datums_warehouse_spark.warehouse import Warehouse


@pytest.fixture()
def wh(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="dws_wh_")
    w = Warehouse(spark, root)
    yield w, root
    shutil.rmtree(root, ignore_errors=True)


def _epoch_s(df):
    """``bucket`` as epoch seconds, read in Spark so the host's time zone
    cannot shift it."""
    return [r[0] for r in df.select(F.unix_timestamp("bucket")).collect()]


def _feed(spark, sf_dir):
    return events_us(spark, sf_dir).select(
        "event_id", "ts", F.col("event_type").alias("series"), "value"
    )


def test_ingest_retrieve_roundtrip(spark, sf_dir, wh):
    w, _ = wh
    feed = _feed(spark, sf_dir)
    w.ingest(feed)
    assert w.table().count() == feed.count()
    clicks = w.series("click")
    expected = feed.filter(F.col("series") == "click")
    assert clicks.count() == expected.count()
    # value fidelity through the partitioned store
    a = sorted((r.event_id, r.value) for r in clicks.collect())
    b = sorted((r.event_id, r.value) for r in expected.collect())
    assert a == b


def test_series_time_bounds(spark, sf_dir, wh):
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    bounded = w.series("view", since="2024-01-10", until="2024-01-20")
    got = bounded.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert got[0] is not None
    assert str(got[0]) >= "2024-01-10"
    assert str(got[1]) < "2024-01-20"


def test_update_incremental_appends_only_new(spark, sf_dir, wh):
    w, _ = wh
    feed = _feed(spark, sf_dir)
    cutoff = "2024-01-20"
    old, new = feed.filter(F.col("ts") < cutoff), feed.filter(F.col("ts") >= cutoff)
    w.ingest(old)
    # replaying the full feed must append exactly the strictly-newer rows
    appended = w.update_incremental(feed)
    assert appended == new.count()
    assert w.table().count() == feed.count()
    # a second replay is a no-op (idempotent cursor)
    assert w.update_incremental(feed) == 0


def test_candles_match_operator(spark, sf_dir, wh):
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    from datums_warehouse_spark.operators.candles import candles

    via_wh = w.candles("purchase", "hour")
    direct = candles(
        events_us(spark, sf_dir).filter(F.col("event_type") == "purchase"),
        F.date_trunc("hour", "ts"),
    )
    a = sorted(map(str, via_wh.collect()))
    b = sorted(map(str, direct.collect()))
    assert a == b


def test_validate_and_gaps(spark, sf_dir, wh):
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    v = w.validate("error").collect()[0]
    assert v.n > 0 and v.n_dup_ts == 0
    # hour grain: exactly the graded X2 rows of the series
    got = sorted(map(tuple, w.gaps("error", "hour").collect()))
    x2 = x2_gap_detection(spark, sf_dir).filter(F.col("series") == "error")
    assert got == sorted(map(tuple, x2.collect()))
    # day grain: midnight buckets (UTC session) that no daily candle has,
    # which together with the candles' buckets tile the span day by day
    days = set(_epoch_s(w.candles("error", "day")))
    missing = _epoch_s(w.gaps("error", "day"))
    assert all(b % 86400 == 0 for b in missing)
    assert not days & set(missing)
    grid = sorted(days | set(missing))
    assert {b - a for a, b in zip(grid, grid[1:])} == {86400}


def test_compact_preserves_data_and_reduces_files(spark, sf_dir, wh):
    """Three appends -> >=3 files per series; compact() -> 1 file per
    series with identical rows, and the store stays fully readable."""
    w, _ = wh
    feed = _feed(spark, sf_dir)
    for chunk in (
        feed.filter(F.col("event_id") % 3 == 0),
        feed.filter(F.col("event_id") % 3 == 1),
        feed.filter(F.col("event_id") % 3 == 2),
    ):
        w.ingest(chunk)
    before = {r.series: r.n_files for r in w.file_stats().collect()}
    assert all(n >= 3 for n in before.values()), before
    expected = sorted((r.event_id, r.value) for r in w.table().collect())

    n = w.compact()
    assert n == len(expected)
    after = {r.series: r.n_files for r in w.file_stats().collect()}
    assert all(n == 1 for n in after.values()), after
    got = sorted((r.event_id, r.value) for r in w.table().collect())
    assert got == expected
    # still queryable end-to-end after the rename dance
    assert w.candles("click").count() > 0


def test_merge_upserts_by_key_and_keeps_rest(spark, sf_dir, wh):
    """merge(): updates replace stored rows with the same (series, ts),
    stored rows off the update keys survive, untouched series partitions
    are left as-is (dynamic partition overwrite)."""
    w, _ = wh
    feed = _feed(spark, sf_dir)
    w.ingest(feed)
    # revise every click row's value; leave every other series untouched
    updates = (
        feed.filter(F.col("series") == "click")
        .withColumn("value", F.col("value") * 2)
    )
    n_updates = updates.count()
    total_before = w.table().count()

    w.merge(updates)

    assert w.table().count() == total_before  # pure revision: no row-count change
    revised = {r.event_id: r.value for r in w.series("click").collect()}
    expected = {r.event_id: r.value for r in updates.collect()}
    assert revised == expected and len(revised) == n_updates
    # untouched partition unchanged
    views_before = feed.filter(F.col("series") == "view")
    got = sorted((r.event_id, r.value) for r in w.series("view").collect())
    exp = sorted((r.event_id, r.value) for r in views_before.collect())
    assert got == exp


def test_merge_inserts_new_keys(spark, sf_dir, wh):
    """Rows whose key doesn't exist yet are inserted (the upsert half)."""
    w, _ = wh
    feed = _feed(spark, sf_dir)
    old = feed.filter(F.col("ts") < "2024-01-20")
    w.ingest(old)
    batch = feed.filter(
        (F.col("series") == "click") & (F.col("ts") >= "2024-01-20")
    )
    w.merge(batch)
    assert w.table().count() == old.count() + batch.count()


def test_interpolate_fills_gaps_densely(spark, sf_dir, wh):
    """interpolate(): one row per grid bucket with no nulls, present
    buckets unchanged, filled buckets flagged and bounded by their
    neighbors' value range."""
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    filled = w.interpolate("click").collect()
    assert filled and all(r.close_interp is not None for r in filled)
    buckets = sorted(r.bucket for r in filled)
    # dense hourly grid: consecutive buckets are exactly one hour apart
    deltas = {int((b - a).total_seconds()) for a, b in zip(buckets, buckets[1:])}
    assert deltas == {3600}
    # present buckets carry their true close
    candles = {r.bucket: r.close for r in w.candles("click").collect()}
    for r in filled:
        if not r.filled:
            assert r.close_interp == candles[r.bucket]
    lo = min(v for v in candles.values())
    hi = max(v for v in candles.values())
    assert all(lo <= r.close_interp <= hi for r in filled if r.filled)


def test_interpolate_at_day_grain_is_a_daily_grid(spark, sf_dir, wh):
    """interpolate(name, "day") has one row per daily grid bucket: every
    bucket is a midnight, consecutive buckets are a day apart, and the rows
    are the daily candles plus the daily gaps."""
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    filled = w.interpolate("click", "day")
    buckets = sorted(_epoch_s(filled))
    assert all(b % 86400 == 0 for b in buckets)
    assert {b - a for a, b in zip(buckets, buckets[1:])} == {86400}
    n_days = w.candles("click", "day").count()
    assert len(buckets) == n_days + w.gaps("click", "day").count()
    assert filled.filter(~F.col("filled")).count() == n_days


def test_merge_is_idempotent(spark, sf_dir, wh):
    """Applying the same update batch twice must equal applying it once —
    the retry-safety property the t9 foreachBatch sink relies on."""
    w, _ = wh
    feed = _feed(spark, sf_dir)
    w.ingest(feed)
    updates = feed.filter(F.col("series") == "purchase").withColumn(
        "value", F.col("value") + 1
    )
    w.merge(updates)
    once = sorted((r.event_id, r.series, r.value) for r in w.table().collect())
    w.merge(updates)
    twice = sorted((r.event_id, r.series, r.value) for r in w.table().collect())
    assert once == twice


def test_compact_multiple_target_files(spark, sf_dir, wh):
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    w.compact(target_files_per_series=4)
    after = {r.series: r.n_files for r in w.file_stats().collect()}
    assert all(1 <= n <= 4 for n in after.values()), after
    assert w.table().count() == _feed(spark, sf_dir).count()


def test_merge_leaves_the_session_conf_alone(spark, sf_dir, wh, monkeypatch):
    """merge() asks for dynamic partition overwrite on its own write, not
    by toggling the shared session value (which races with other writers
    on the session): with ``spark.conf.set`` raising, the upsert still
    replaces the touched partition and leaves the others as they were."""
    w, _ = wh
    feed = _feed(spark, sf_dir)
    w.ingest(feed)
    updates = feed.filter(F.col("series") == "click").withColumn(
        "value", F.col("value") * 2
    )
    total_before = w.table().count()

    def refuse(*_a, **_k):
        raise AssertionError("merge must not set session conf")

    monkeypatch.setattr(spark.conf, "set", refuse)
    w.merge(updates)
    monkeypatch.undo()

    assert w.table().count() == total_before
    revised = {r.event_id: r.value for r in w.series("click").collect()}
    assert revised == {r.event_id: r.value for r in updates.collect()}
    got = sorted((r.event_id, r.value) for r in w.series("view").collect())
    exp = sorted(
        (r.event_id, r.value)
        for r in feed.filter(F.col("series") == "view").collect()
    )
    assert got == exp


def test_compact_clears_a_stale_old_directory(spark, sf_dir, wh):
    """A compact that died before removing ``<path>.old`` leaves it behind;
    the next compact must not fail renaming onto it, and the data must
    come through intact."""
    w, _ = wh
    w.ingest(_feed(spark, sf_dir))
    expected = sorted((r.event_id, r.value) for r in w.table().collect())
    os.makedirs(w.path + ".old")
    with open(os.path.join(w.path + ".old", "part-stale.parquet"), "w") as f:
        f.write("stale")

    assert w.compact() == len(expected)
    assert sorted((r.event_id, r.value) for r in w.table().collect()) == expected
    assert not os.path.exists(w.path + ".old")
