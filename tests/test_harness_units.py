"""Unit tests for the comparison harness and determinism helpers —
the instruments everything else is measured with."""

from __future__ import annotations

import math
from datetime import datetime
from decimal import Decimal

import pandas as pd

from datums_warehouse_spark.testing.compare import canonical_rows, compare_frames


def test_canonical_negative_zero_folds():
    a = pd.DataFrame({"x": [0.0]})
    b = pd.DataFrame({"x": [-0.0]})
    assert canonical_rows(a) == canonical_rows(b)


def test_canonical_nan_and_none_merge():
    a = pd.DataFrame({"x": [float("nan")]})
    b = pd.DataFrame({"x": [None]}, dtype="object")
    assert canonical_rows(a) == canonical_rows(b)


def test_canonical_decimal_vs_float():
    a = pd.DataFrame({"x": [Decimal("1.5")]})
    b = pd.DataFrame({"x": [1.5]})
    assert canonical_rows(a) == canonical_rows(b)


def test_canonical_timestamp_precision_floor():
    # ns-precision values compare at µs (Spark's ceiling)
    a = pd.DataFrame({"t": [pd.Timestamp("2024-01-01 00:00:00.123456789")]})
    b = pd.DataFrame({"t": [pd.Timestamp("2024-01-01 00:00:00.123456")]})
    assert canonical_rows(a) == canonical_rows(b)


def test_canonical_column_order_insensitive():
    a = pd.DataFrame({"x": [1], "y": [2]})
    b = pd.DataFrame({"y": [2], "x": [1]})
    assert canonical_rows(a) == canonical_rows(b[["y", "x"]])


def test_compare_detects_schema_mismatch():
    a = pd.DataFrame({"x": [1]})
    b = pd.DataFrame({"z": [1]})
    assert not compare_frames("t", a, b).ok


def test_compare_detects_row_count_mismatch():
    a = pd.DataFrame({"x": [1, 2]})
    b = pd.DataFrame({"x": [1]})
    assert not compare_frames("t", a, b).ok


def test_compare_detects_value_mismatch():
    a = pd.DataFrame({"x": [1.0]})
    b = pd.DataFrame({"x": [1.0000001]})
    assert not compare_frames("t", a, b).ok


def test_compare_order_insensitive_rows():
    a = pd.DataFrame({"x": [1, 2, 3]})
    b = pd.DataFrame({"x": [3, 1, 2]})
    assert compare_frames("t", a, b).ok


def test_dsum_is_order_independent(spark):
    """The core determinism claim: decimal-routed sums don't depend on
    partitioning/order; plain double sums may."""
    from pyspark.sql import functions as F

    from datums_warehouse_spark.functions.determinism import dsum

    vals = [(0.1 + i * 1e-7,) for i in range(5000)]
    df1 = spark.createDataFrame(vals, "v double").repartition(1)
    df32 = spark.createDataFrame(list(reversed(vals)), "v double").repartition(32)
    s1 = df1.agg(dsum("v").alias("s")).collect()[0].s
    s32 = df32.agg(dsum("v").alias("s")).collect()[0].s
    assert s1 == s32  # bit-identical despite different partitioning/order


def test_hash48_matches_duckdb(duck):
    from datums_warehouse_spark.functions.hashing import sql_hash48

    expr = sql_hash48("'hello world'")
    got = duck.execute(f"SELECT {expr}").fetchone()[0]
    # reference value: first 12 hex chars of md5('hello world') as int
    import hashlib

    expect = int(hashlib.md5(b"hello world").hexdigest()[:12], 16)
    assert got == expect


def test_normalize_ts_equalizes_all_arrival_types(spark):
    """The events.ts column arrives as int64-ns (legacy nanosAsLong
    sessions), TIMESTAMP_NTZ (pyspark >= 4.1), or TIMESTAMP depending on
    the session — normalize_ts must map all three to the identical
    TimestampType instants (the round-4 regression class: code written
    against one arrival type breaking when the environment shifts)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from datums_warehouse_spark.sources.tables import normalize_ts

    micros = [0, 1_704_067_798_778_549, 1_721_044_800_000_000]  # epoch, winter, summer
    base = spark.createDataFrame([(m,) for m in micros], "us long")
    as_long_ns = base.select((F.col("us") * 1000).alias("ts"))
    as_ntz = base.select(
        F.timestamp_micros("us").cast("timestamp_ntz").alias("ts")
    )
    as_ltz = base.select(F.timestamp_micros("us").alias("ts"))

    outs = []
    for df in (as_long_ns, as_ntz, as_ltz):
        out = normalize_ts(df)
        assert isinstance(out.schema["ts"].dataType, TimestampType)
        outs.append(sorted(r.ts for r in out.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_analytic_replication_oracle_matches_direct(duck, sf_dir):
    """The stress harness's 32× analytic oracle (scripts/stress.py
    ANALYTIC) rests on the replication model: M doc copies ⇒ C(M,2)
    Jaccard-1.0 self pairs + M² copies of each verified base pair +
    copy-wise component merge. Pin the model against the DIRECT DuckDB
    oracle on a small replicated layout (M=3 over sf0.001, where the
    direct reconstruction is cheap) so an edit to either side — the LSH
    constants, the pair SQL, the expectation builder — can't silently
    drift them apart."""
    import importlib.util
    import os

    import duckdb

    from datums_warehouse_spark import all_queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "stress_mod", os.path.join(root, "scripts", "stress.py")
    )
    stress = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(stress)

    qs = all_queries()
    # the harness's OWN artifact builder, pointed at sf0.001 — so the pin
    # validates exactly the construction the 32× run uses
    base = stress._dedup_base_from(duck, qs)
    m = 3
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW base AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    con.execute(
        f"""
        CREATE VIEW documents AS
        SELECT doc_id + i * {base['stride']} AS doc_id,
               text, lang, source, n_chars
        FROM base CROSS JOIN (SELECT unnest(range({m})) AS i)
        """
    )
    direct_pairs = con.execute(qs["l2_minhash_lsh_pairs"].oracle).fetchdf()
    direct_clusters = con.execute(qs["l2_dedup_clusters"].oracle).fetchdf()
    direct_incr = con.execute(qs["l40_incremental_dedup"].oracle).fetchdf()
    con.close()

    assert stress._frames_equal_exact(
        direct_pairs, stress._expected_pairs(base, m)
    ), "analytic pair expectation diverged from the direct DuckDB oracle"
    assert stress._frames_equal_exact(
        direct_clusters, stress._expected_clusters(base, m)
    ), "analytic cluster expectation diverged from the direct DuckDB oracle"
    assert stress._frames_equal_exact(
        direct_incr,
        stress._expected_frame("l40_incremental_dedup", qs, m, sf_dir, base=base),
    ), "analytic incremental-dedup expectation diverged from the direct oracle"


def test_bench_reruns_when_calibration_drifts_past_twice():
    """bench.py re-runs its timed passes once when the machine's speed
    moved more than 2× between the start and end calibration (one published
    run read 0.391 s at the start against 0.164 s at the end)."""
    import bench

    assert bench.machine_drifted([0.391] * 3, [0.164] * 3)
    assert bench.machine_drifted([0.164] * 3, [0.391] * 3)  # either way round
    assert not bench.machine_drifted([0.2] * 3, [0.4] * 3)  # 2× exactly is kept
    assert not bench.machine_drifted([0.2] * 3, [0.2] * 3)
    # medians decide, so one stalled sample of three moves nothing
    assert not bench.machine_drifted([0.2, 0.9, 0.21], [0.22, 0.2, 0.2])
    assert bench.calibration_drift([0.3, 0.1, 0.2], [0.4]) == 2.0
