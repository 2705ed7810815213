"""The three workloads: what each runs, how one pass is timed, how its
outputs are checked.

Every workload is a closed loop: one client thread issues the next
operation when the previous one has produced its last row. A run is a
warm-up pass (part of set-up, outputs checked) followed by whole timed
passes: a mix is only comparable between runs when it is complete. An operation counts as failed when it raises, when its query is no
longer registered, or when its output fails the check.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

import datagen
from measure import materialize
from tracing import Tracer

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.sources.tables import TABLES, path
from datums_warehouse_spark.testing.compare import compare_frames
from datums_warehouse_spark.warehouse import Warehouse

# The reference's time-series query surface plus the relational shapes that
# set its tail: JVM-only scan, shuffle, window and join work.
SERIES_ANALYTICS = (
    "a8_candles_1h", "a8_candles_15m", "a8_candles_vwap", "x1_resample_1h_to_1d",
    "x2_gap_detection", "x3_interpolate_linear", "x4_series_validation", "x5_returns",
    "x6_ema", "x7_rolling_corr", "x9_rolling_zscore", "x11_twap", "j9_asof_join",
    "w3_running_total", "t2_sliding_window", "t3_session_window", "a1_pricing_summary",
    "j2_shuffle_fact_join", "j3_star_join", "j13_interval_bucket_join",
    "comp19_min_cost_supplier",
)  # fmt: skip

# Seven queries that each rebuild the shingle -> minhash pipeline, plus five
# other LLM-data operators: Arrow/pandas workers, label-propagation loops,
# eager construction. Run in this order, as one dedup session: the first
# pipeline query pays for whatever the session's queries share.
LLM_DEDUP = (
    "l2_minhash_lsh_pairs", "l2_dedup_clusters", "l18_decontamination",
    "l26_cross_split_leakage", "l29_dedup_materialize", "l37_minhash_calibration",
    "l40_incremental_dedup", "l33_dup_passages", "l50_c4_line_dedup",
    "l41_semdedup_pairs", "l6_tfidf", "l3_cosine_topk",
)  # fmt: skip

PACKAGE = "datums_warehouse_spark."


@dataclass
class Op:
    kind: str  # query name or Warehouse method
    layer: str
    seconds: float | None = None  # None: failed before producing a result
    ok: bool = True
    rows: int = 0  # rows appended, for update_incremental


@dataclass
class Timed:
    ops: list[Op] = field(default_factory=list)
    seconds: float = 0.0  # wall time of the passes, without the checks between them


def layer_of(fn) -> str:
    module = fn.__module__
    return module[len(PACKAGE):] if module.startswith(PACKAGE) else module


def oracle_connection(sf_dir: str, spill_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table, as the oracle SQL expects. Same views
    as ``testing.duck.connect``, but spilling inside the benchmark's work
    directory instead of a fixed ``/tmp`` path."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path(sf_dir, t)}')")
    return con


def oracle_failure(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the Spark result matches its oracle, else why not."""
    result = compare_frames(name, spark_pdf, oracle_pdf)
    return None if result.ok else result.detail


class QueryWorkload:
    """Registered queries over generated tables, one pass after another:
    independent queries in a seed-shuffled order on every pass, a pipeline
    session in its listed order."""

    def __init__(self, spark: SparkSession, work_dir: str, seed: int,
                 names: tuple[str, ...], shuffled: bool):  # fmt: skip
        self.spark, self.work_dir, self.names, self.shuffled = spark, work_dir, names, shuffled
        self.rng = random.Random(seed)
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "tables")
        self.registry = all_queries()
        self.broken: set[str] = set()  # failed the warm-up check: every timed op fails
        self.failures: list[str] = []

    def generate(self) -> None:
        datagen.generate(self.sf_dir, self.seed)

    def _release(self) -> None:
        # Program caches are dropped between passes, never between queries.
        # Looked up by name: the function is expected to disappear.
        from datums_warehouse_spark.llm import dedup

        release = getattr(dedup, "release_caches", None)
        if release is not None:
            release()

    def warm_up(self) -> float:
        """Materialize every query once and check it against its oracle.
        Returns the seconds spent in Spark; the oracle side is not counted."""
        spent = 0.0
        con = oracle_connection(self.sf_dir, os.path.join(self.work_dir, "duck"))
        try:
            for name in self.names:
                query = self.registry.get(name)
                if query is None:
                    self._fail(name, "not registered")
                    continue
                t0 = time.perf_counter()
                try:
                    got = query.fn(self.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - a failing query is a result
                    spent += time.perf_counter() - t0
                    self._fail(name, f"raised {type(e).__name__}: {e}")
                    continue
                spent += time.perf_counter() - t0
                if query.oracle is None:
                    self._fail(name, "no oracle SQL")
                    continue
                why = oracle_failure(name, got, con.execute(query.oracle).df())
                if why:
                    self._fail(name, why)
        finally:
            con.close()
        self._release()
        return spent

    def _fail(self, name: str, why: str) -> None:
        self.broken.add(name)
        self.failures.append(f"{name}: {why}")

    def run(self, tracer: Tracer | None, seconds: float) -> Timed:
        """Whole passes until at least ``seconds`` have run."""
        out = Timed()
        while out.seconds < seconds:
            order = list(self.names)
            if self.shuffled:
                self.rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                out.ops.append(self._run_op(name, tracer))
            out.seconds += time.perf_counter() - t_pass
            self._release()
        return out

    def _run_op(self, name: str, tracer: Tracer | None) -> Op:
        query = self.registry.get(name)
        if query is None:
            return Op(name, "missing", ok=False)
        op = Op(name, layer_of(query.fn), ok=name not in self.broken)
        try:
            if tracer is None:
                t0 = time.perf_counter()
                materialize(query.fn(self.spark, self.sf_dir))
                op.seconds = time.perf_counter() - t0
            else:
                with tracer.span("op", query=name, layer=op.layer) as span:
                    with tracer.span(op.layer + ".build", counted=True):
                        df = query.fn(self.spark, self.sf_dir)
                    with tracer.span(op.layer + ".exec", counted=True):
                        materialize(df)
                op.seconds = span["end"] - span["start"]
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            op.ok = False
            self.failures.append(f"{name}: raised {type(e).__name__}: {e}")
        return op


# -- warehouse_cycle ----------------------------------------------------------

FEED_SCHEMA = "event_id long, ts timestamp, series string, value double"
_FEED_ARROW = pa.schema(
    [("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("series", pa.string()),
     ("value", pa.float64())]
)  # fmt: skip
READS = ("series", "candles", "latest", "validate")
CYCLE_DAYS = 8
EVENTS_PER_DAY = 300
MERGE_EVERY_DAYS = 4
REVISED_PER_MERGE = 20


def _us(col: pd.Series) -> pd.Series:
    ts = pd.to_datetime(col)
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64")


def user_bytes(rows: pd.DataFrame) -> int:
    """Raw size of the rows as a user hands them over: three 8-byte fields
    and the UTF-8 series name."""
    return int(24 * len(rows) + rows["series"].str.len().sum())


def warehouse_violations(
    stored: pd.DataFrame, latest: pd.DataFrame, fed: pd.DataFrame, revised: pd.DataFrame
) -> list[str]:
    """Invariants of one finished cycle against what was fed.

    ``stored`` is the whole warehouse table, ``latest`` the output of
    ``Warehouse.latest()``, ``fed`` the distinct rows fed and ``revised``
    the rows the merges wrote, last revision last.
    """
    out = []
    if len(stored) != len(fed):
        out.append(f"stored {len(stored)} rows, fed {len(fed)} distinct rows")
    want = fed.assign(us=_us(fed["ts"])).groupby("series")["us"].max().to_dict()
    got = dict(zip(latest["series"], _us(latest["cursor"])))
    if got != want:
        out.append(f"latest() cursors {got} != max ts fed {want}")
    rev = revised.assign(us=_us(revised["ts"])).drop_duplicates(["series", "us"], keep="last")
    have = stored.assign(us=_us(stored["ts"]))[["series", "us", "value"]]
    joined = rev.merge(have, on=["series", "us"], how="left", suffixes=("", "_stored"))
    bad = joined[joined["value_stored"].isna() | (joined["value_stored"] != joined["value"])]
    if len(bad):
        out.append(f"{len(bad)} merged rows do not carry their revised value")
    return out


class WarehouseCycle:
    """One cycle: an empty ``Warehouse`` fed day by day through
    ``update_incremental``, each batch replaying a seed-chosen tail of the
    previous one; after each batch four reads with seed-chosen series and
    windows; every ``MERGE_EVERY_DAYS`` days a merge of revised rows, then a
    compaction."""

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark, self.work_dir, self.seed = spark, work_dir, seed
        self.root = os.path.join(work_dir, "warehouse")
        self.feed_dir = os.path.join(work_dir, "feed")
        self.failures: list[str] = []
        self.stored_bytes_per_user_byte: list[float] = []  # per cycle

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        ev = datagen.events_frame(rng, CYCLE_DAYS, EVENTS_PER_DAY)
        feed = pd.DataFrame(
            {"event_id": ev["event_id"], "ts": ev["ts"].dt.tz_localize("UTC"),
             "series": ev["event_type"], "value": ev["value"]}
        )  # fmt: skip
        day = ((ev["ts"] - datagen.EVENTS_START) // pd.Timedelta(days=1)).to_numpy()
        os.makedirs(self.feed_dir, exist_ok=True)
        self.fed, self.user_bytes = feed, user_bytes(feed)
        self.schedule: list[tuple] = []
        revised, prev = [], None
        pickable = np.ones(len(feed), dtype=bool)
        for d in range(CYCLE_DAYS):
            batch = feed[day == d]
            if prev is not None:  # replay a tail of the previous batch
                batch = pd.concat([prev.tail(int(rng.integers(0, len(prev) // 2 + 1))), batch])
            prev = feed[day == d]
            self.schedule.append(("update_incremental", self._write(f"batch-{d}", batch)))
            t_end = datagen.EVENTS_START + np.timedelta64(d + 1, "D")
            for read in rng.permutation(READS):
                name = datagen.EVENT_TYPES[int(rng.integers(0, len(datagen.EVENT_TYPES)))]
                since = datagen.EVENTS_START + np.timedelta64(
                    int(rng.integers(0, (d + 1) * 24)), "h"
                )
                until = min(since + np.timedelta64(int(rng.integers(1, 25)), "h"), t_end)
                self.schedule.append((str(read), name, _fmt(since), _fmt(until)))
            if (d + 1) % MERGE_EVERY_DAYS == 0:
                candidates = np.flatnonzero(pickable & (day <= d))
                pick = rng.choice(candidates, REVISED_PER_MERGE, replace=False)
                pickable[pick] = False
                rows = feed.iloc[pick].assign(value=lambda f: np.round(f["value"] * 1.5 + 1, 2))
                revised.append(rows)
                self.schedule.append(("merge", self._write(f"revise-{d}", rows)))
                self.schedule.append(("compact",))
        self.revised = pd.concat(revised)

    def _write(self, name: str, rows: pd.DataFrame) -> str:
        out = os.path.join(self.feed_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(rows, schema=_FEED_ARROW, preserve_index=False), out)
        return out

    def warm_up(self) -> float:
        return self._cycle(None).seconds

    def run(self, tracer: Tracer | None, seconds: float) -> Timed:
        """Whole cycles until at least ``seconds`` have run."""
        out = Timed()
        while out.seconds < seconds:
            cycle = self._cycle(tracer)
            out.ops += cycle.ops
            out.seconds += cycle.seconds
        return out

    def _cycle(self, tracer: Tracer | None) -> Timed:
        shutil.rmtree(self.root, ignore_errors=True)
        wh = Warehouse(self.spark, self.root)
        out = Timed()
        t_cycle = time.perf_counter()
        for step in self.schedule:
            out.ops.append(self._run_op(wh, step, tracer))
        out.seconds = time.perf_counter() - t_cycle
        self._check(wh, out)
        return out

    def _run_op(self, wh: Warehouse, step: tuple, tracer: Tracer | None) -> Op:
        kind = step[0]
        op = Op(kind, "warehouse")
        try:
            if tracer is None:
                t0 = time.perf_counter()
                op.rows = self._call(wh, step)
                op.seconds = time.perf_counter() - t0
            else:
                with tracer.span("warehouse." + kind, counted=True, scans=kind in READS,
                                 layer="warehouse") as span:
                    op.rows = self._call(wh, step)
                op.seconds = span["end"] - span["start"]
        except Exception as e:  # noqa: BLE001 - a failing operation is a result
            op.ok = False
            self.failures.append(f"{kind}: raised {type(e).__name__}: {e}")
        return op

    def _call(self, wh: Warehouse, step: tuple) -> int:
        kind, *args = step
        feed = lambda p: self.spark.read.schema(FEED_SCHEMA).parquet(p)  # noqa: E731
        if kind == "update_incremental":
            return wh.update_incremental(feed(args[0]))
        if kind == "merge":
            wh.merge(feed(args[0]))
        elif kind == "compact":
            wh.compact()
        elif kind == "series":
            materialize(wh.series(*args))
        elif kind == "candles":
            materialize(wh.candles(args[0], "hour"))
        elif kind == "latest":
            materialize(wh.latest())
        elif kind == "validate":
            materialize(wh.validate(args[0]))
        return 0

    def _check(self, wh: Warehouse, cycle: Timed) -> None:
        """Invariants after a cycle, outside the timer. A violation fails
        every operation of the cycle."""
        stored = wh.table().toPandas()
        why = warehouse_violations(stored, wh.latest().toPandas(), self.fed, self.revised)
        if why:
            self.failures.extend(why)
            for op in cycle.ops:
                op.ok = False
        on_disk = sum(os.path.getsize(f) for f in glob.glob(f"{wh.path}/**/*.parquet", recursive=True))
        self.stored_bytes_per_user_byte.append(on_disk / self.user_bytes)


def _fmt(t: np.datetime64) -> str:
    return str(np.datetime_as_string(t, unit="s")).replace("T", " ")


WORKLOADS = {
    "series_analytics": lambda spark, work, seed: QueryWorkload(
        spark, work, seed, SERIES_ANALYTICS, shuffled=True
    ),
    "llm_dedup": lambda spark, work, seed: QueryWorkload(spark, work, seed, LLM_DEDUP, shuffled=False),
    "warehouse_cycle": WarehouseCycle,
}
