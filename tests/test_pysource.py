"""Connector-specific contracts for the Python DataSource family
(S10 batch read with pushdown, T11 streaming read, S11 manifest-commit
write) beyond the registry-wide parity/laziness/hygiene suites.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datums_warehouse_spark import all_queries


def test_s10_pushdown_absorbs_filter(spark, sf_dir):
    """With spark.sql.python.filterPushdown.enabled (set by the query
    itself), the n_chars >= 200 predicate must be absorbed by the
    connector: the optimized plan keeps only the residual null check."""
    df = all_queries()["s10_python_datasource"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "docs_pyarrow" in optimized
    assert ">= 200" not in optimized, (
        "filter stayed in the Spark plan — pushFilters did not accept it:\n"
        + optimized
    )


def test_s10_reader_filters_exactly(spark, sf_dir):
    """The accepted pushed filter is applied by the reader itself (the
    pushdown contract): connector rows == native-scan rows under the same
    predicate, and no under-threshold row survives."""
    df = all_queries()["s10_python_datasource"].fn(spark, sf_dir)
    total = df.agg(F.sum("n_docs")).collect()[0][0]
    native = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("n_chars") >= 200)
        .count()
    )
    assert total == native


def test_s11_manifest_gates_visibility(spark, sf_dir):
    """Orphan part files (failed/speculative attempts) must stay invisible:
    the graded result reads manifest-listed parts only, so planting an
    orphan after the run must not change what a manifest-driven reader
    sees."""
    from datums_warehouse_spark.sources.tables import scratch_path

    q = all_queries()["s11_python_datasink"].fn
    before = {tuple(r) for r in q(spark, sf_dir).collect()}

    out_dir = scratch_path("s11_python_datasink", sf_dir)
    assert out_dir is not None and os.path.isdir(out_dir)
    manifest = os.path.join(out_dir, "_MANIFEST")
    assert os.path.exists(manifest)
    listed = {line.strip() for line in open(manifest) if line.strip()}
    on_disk = {f for f in os.listdir(out_dir) if f.endswith(".parquet")}
    assert listed == on_disk  # clean run: every part committed

    # Plant an orphan (an aborted attempt's leftover) and re-read through
    # the manifest exactly as the query does.
    orphan = pa.table({"event_type": ["ghost"], "value": [1.0]})
    pq.write_table(orphan, os.path.join(out_dir, "part-orphan.parquet"))
    committed = [os.path.join(out_dir, f) for f in sorted(listed)]
    back = (
        spark.read.parquet(*committed)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    after = {tuple(r) for r in back.collect()}
    assert after == before
    assert not any(r[0] == "ghost" for r in after)


def test_t11_offsets_cover_every_row_once(spark, sf_dir):
    """The streaming source's row-range offsets must partition the table
    exactly — total streamed count equals the batch count (a lost or
    double-read range would break equality)."""
    streamed = all_queries()["t11_stream_python_source"].fn(spark, sf_dir)
    n_stream = streamed.agg(F.sum("n_events")).collect()[0][0]
    n_batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert n_stream == n_batch
