"""Custom Python DataSource connector (PySpark 4 `pyspark.sql.datasource`).

The escape hatch for sources Spark has no built-in reader for (internal
feed formats, service APIs, bespoke binary layouts): implement
`DataSource`/`DataSourceReader` in Python, register it on the session, and
the result is a first-class DataFrame scan — partitioned, Arrow-batched,
and composable with every downstream operator.

The demo connector here reads a parquet file through pyarrow purely so the
DuckDB oracle can read the identical bytes and hash-compare the result;
the *connector surface* (partition planning on the driver, per-partition
Arrow-batch iteration on executors, explicit column projection) is exactly
what a real custom-format reader implements.

Scale shape: `partitions()` returns one split per parquet row group, so a
100 TB dataset fans out to as many concurrent reader tasks as it has row
groups (~800k at 128 MB each) — the same split granularity as Spark's
native parquet scan. Each `read()` yields pyarrow RecordBatches (zero-copy
Arrow transfer into the JVM, never per-row Python), and reads only the
three projected columns. The classes are defined INSIDE the query function
so cloudpickle ships them by value — executor workers do not have this
repo on PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datums_warehouse_spark.registry import query
from datums_warehouse_spark.sources.tables import events_us, scratch


@query(
    "s10_python_datasource",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE n_chars >= 200
        GROUP BY lang
    """,
    tags=("S10",),
)
def s10_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stats read through the custom Python connector — the
    aggregate runs on a DataFrame whose scan is the registered
    `docs_pyarrow` source, proving the connector composes with ordinary
    relational operators and the whole plan stays lazy until action.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThanOrEqual,
        InputPartition,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    # Opt into connector-side predicate pushdown (off by default in Spark
    # 4.1) for THIS plan only: the conf is flipped, the optimized plan is
    # baked below while it holds (pushFilters runs during optimization and
    # queryExecution caches the result), and the caller's prior value is
    # restored before returning — a later Python-datasource scan in the
    # same session sees the session owner's own setting (ADVICE r06). On a
    # runtime without the conf, Spark keeps the Filter node in the plan —
    # both plans are correct, which is exactly the contract pushdown must
    # satisfy.
    _PD_KEY = "spark.sql.python.filterPushdown.enabled"
    try:
        _pd_prior = spark.conf.get(_PD_KEY, None)
        spark.conf.set(_PD_KEY, "true")
        _pd_restore = True
    except Exception:
        _pd_restore = False  # unknown conf: plan-side filtering only

    class _RowGroupSplit(InputPartition):
        def __init__(self, path: str, row_group: int, min_chars):
            self.path = path
            self.row_group = row_group
            self.min_chars = min_chars

    class _DocsReader(DataSourceReader):
        COLUMNS = ["doc_id", "lang", "n_chars"]

        def __init__(self, options):
            self._path = options["path"]
            self._min_chars = None

        def pushFilters(self, filters):
            # Accept `n_chars >= v`; everything else stays in the Spark
            # plan. CONTRACT: an accepted filter is REMOVED from the plan,
            # so read() must apply it exactly, not best-effort — when
            # Catalyst pushes SEVERAL lower bounds (e.g. >=200 AND >=300),
            # every accepted one must hold, i.e. keep the strictest
            # (ADVICE r06: last-write-wins would silently widen the scan).
            for f in filters:
                if (
                    isinstance(f, GreaterThanOrEqual)
                    and f.attribute == ("n_chars",)
                    and isinstance(f.value, int)
                ):
                    self._min_chars = (
                        f.value
                        if self._min_chars is None
                        else max(self._min_chars, f.value)
                    )
                else:
                    yield f

        def _files(self):
            # A parquet "path" is either a single file or a Spark-written
            # directory of part files (possibly zero parts for an empty
            # write) — a connector must serve both layouts.
            import glob as _glob

            if os.path.isdir(self._path):
                return sorted(
                    f
                    for f in _glob.glob(os.path.join(self._path, "*.parquet"))
                    if os.path.isfile(f)
                )
            return [self._path]

        def partitions(self):
            # Driver-side split planning: metadata-only footer reads, one
            # split per (file, row group) — the native parquet scan's
            # granularity. With a pushed filter, row groups whose column
            # statistics cannot match are pruned here — the same
            # stats-skipping the native parquet reader does, now inside
            # the connector.
            import pyarrow.parquet as pq

            splits = []
            for path in self._files():
                meta = pq.ParquetFile(path).metadata
                # Stats are in FILE column order, not projection order.
                idx = {
                    meta.schema.column(i).name: i for i in range(meta.num_columns)
                }["n_chars"]
                for rg in range(meta.num_row_groups):
                    if self._min_chars is not None:
                        stats = meta.row_group(rg).column(idx).statistics
                        if stats is not None and stats.has_min_max:
                            if stats.max < self._min_chars:
                                continue  # no row in this group can pass
                    splits.append(_RowGroupSplit(path, rg, self._min_chars))
            if not splits:
                # Empty dataset (0 parts / 0 row groups): one no-op split —
                # the scan must still yield an empty result, not fail to plan.
                return [_RowGroupSplit(self._path, -1, self._min_chars)]
            return splits

        def read(self, partition):
            # Executor-side: stream the split's Arrow batches. Projection
            # is explicit — a custom connector must prune columns itself;
            # nothing upstream can reach inside its format. The accepted
            # pushed filter is applied exactly, per the pushdown contract.
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            if partition.row_group < 0:
                return
            table = pq.ParquetFile(partition.path).read_row_group(
                partition.row_group, columns=self.COLUMNS
            )
            if partition.min_chars is not None:
                table = table.filter(
                    pc.greater_equal(table["n_chars"], partition.min_chars)
                )
            yield from table.to_batches()

    class _DocsSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "docs_pyarrow"

        def schema(self) -> str:
            return "doc_id bigint, lang string, n_chars bigint"

        def reader(self, schema):
            return _DocsReader(self.options)

    try:
        spark.dataSource.register(_DocsSource)
        docs = spark.read.format("docs_pyarrow").option("path", path).load()
        result = (
            docs.filter(F.col("n_chars") >= 200)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
        )
        # Bake the optimized plan while the pushdown conf holds (no job
        # runs — optimization only). Later actions reuse the cached
        # queryExecution, so pushdown survives the conf restore below.
        result._jdf.queryExecution().optimizedPlan()
    finally:
        if _pd_restore:
            if _pd_prior is None:
                spark.conf.unset(_PD_KEY)
            else:
                spark.conf.set(_PD_KEY, _pd_prior)
    return result


@query(
    "t11_stream_python_source",
    oracle=f"""
        SELECT event_type,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
    tags=("T11", "stream", "eager"),
)
def t11_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom *streaming* Python DataSource: the events table replayed as
    a micro-batch stream through `DataSourceStreamReader` — offset
    planning on the driver (JSON row-range offsets, ≤50k rows per batch),
    per-batch executor fan-out (4 range slices), Arrow-batched reads, and
    an exactly-once commit loop — then aggregated by a normal streaming
    query (complete mode, in-memory sink) and drained to termination.

    Because the source replays a fixed table to exhaustion, the final
    counts/sums are deterministic and the query is FULLY oracle-checked —
    unlike the t4/t7 rows-only streams, this one proves the custom
    connector's offset arithmetic end to end: a lost or double-read range
    would shift the hash.

    Scale shape: this is the connector pattern for a feed Spark can't read
    natively (queue, service API, bespoke format). State is one (sum,
    count) pair per event_type; offsets are O(1) JSON; each micro-batch
    fans out executor-side, so throughput scales with the cluster, not the
    driver. The decimal-cast sum keeps the streamed total bit-identical to
    the batch oracle regardless of merge order.
    """
    import uuid

    from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

    from datums_warehouse_spark.session import scoped_conf

    path = os.path.join(sf_dir, "events.parquet")
    CHUNK = 50_000  # rows per micro-batch
    SLICES = 4  # executor partitions per batch

    class _RangeSplit(InputPartition):
        def __init__(self, path: str, lo: int, hi: int):
            self.path, self.lo, self.hi = path, lo, hi

    class _EventsStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self._path = options["path"]
            import pyarrow.parquet as pq

            self._n = pq.ParquetFile(self._path).metadata.num_rows

        def initialOffset(self):
            return {"row": 0}

        def latestOffset(self):
            # Advance at most CHUNK rows per micro-batch: bounded batches
            # are what keep state growth and retry cost predictable on an
            # unbounded feed.
            cur = getattr(self, "_cur", 0)
            nxt = min(cur + CHUNK, self._n)
            self._cur = nxt
            return {"row": nxt}

        def partitions(self, start, end):
            lo, hi = start["row"], end["row"]
            if hi <= lo:
                return [_RangeSplit(self._path, lo, lo)]
            step = max(1, (hi - lo + SLICES - 1) // SLICES)
            return [
                _RangeSplit(self._path, a, min(a + step, hi))
                for a in range(lo, hi, step)
            ]

        def read(self, split):
            # Read ONLY the row groups overlapping [lo, hi) — cumulative
            # row-group row counts from footer metadata, then slice the
            # overlap out of each group (ADVICE r06: a whole-file read per
            # slice makes micro-batch I/O quadratic in the table size).
            import pyarrow.parquet as pq

            if split.hi <= split.lo:
                return
            pf = pq.ParquetFile(split.path)
            meta = pf.metadata
            start = 0
            for rg in range(meta.num_row_groups):
                n = meta.row_group(rg).num_rows
                end = start + n
                if end > split.lo and start < split.hi:
                    lo = max(split.lo, start) - start
                    hi = min(split.hi, end) - start
                    table = pf.read_row_group(rg, columns=["event_type", "value"])
                    yield from table.slice(lo, hi - lo).to_batches()
                start = end
                if start >= split.hi:
                    break

        def commit(self, end):
            # Nothing to clean up for a replayable file; a queue-backed
            # source would acknowledge-and-trim up to `end` here.
            pass

    class _EventsStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "events_stream_pyarrow"

        def schema(self) -> str:
            return "event_type string, value double"

        def streamReader(self, schema):
            return _EventsStreamReader(self.options)

    spark.dataSource.register(_EventsStreamSource)
    stream = (
        spark.readStream.format("events_stream_pyarrow").option("path", path).load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    )
    name = f"t11_pysrc_{uuid.uuid4().hex[:8]}"
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(60)
    return spark.table(name)


@query(
    "s11_python_datasink",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE value >= 0
        GROUP BY event_type
    """,
    tags=("S11", "eager"),
)
def s11_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource *writer*: events written through a
    `DataSourceArrowWriter` with the full distributed-commit protocol —
    each task streams its partition's Arrow batches into its own part
    file and returns a commit message; the driver's commit() publishes a
    manifest naming exactly the committed parts (a failed/speculative
    task's orphan file is never listed, so readers get all-or-nothing
    visibility). The graded result re-reads ONLY manifest-listed parts
    and aggregates — a lost partition, double write, or torn commit would
    shift the hash against the batch oracle.

    This is the write-path twin of S10/T11 and the pattern for sinks
    Spark can't write natively (feature stores, service APIs, bespoke
    formats). Scale shape: one writer task per input partition, Arrow
    zero-copy out of the JVM, O(#tasks) commit messages on the driver —
    the same topology as Spark's native FileFormatWriter commit.
    """
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    out_dir = scratch("s11_python_datasink", sf_dir)
    os.makedirs(out_dir)

    class _PartCommit(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    class _ArrowPartWriter(DataSourceArrowWriter):
        def __init__(self, path: str):
            self._path = path

        def write(self, iterator):
            # Executor-side: stream RecordBatches into a task-private part
            # file. The uuid name makes speculative/retried attempts
            # collision-free; only the attempt whose message reaches
            # commit() becomes visible.
            import pyarrow as pa
            import pyarrow.parquet as pq

            fname = f"part-{uuid.uuid4().hex}.parquet"
            full = os.path.join(self._path, fname)
            writer = None
            n = 0
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(full, batch.schema)
                writer.write_table(pa.Table.from_batches([batch]))
                n += batch.num_rows
            if writer is not None:
                writer.close()
            return _PartCommit(fname, n)

        def commit(self, messages):
            # Driver-side, exactly once: publish the manifest of committed
            # parts. Readers resolve the dataset through it, never by
            # listing the directory.
            manifest = os.path.join(self._path, "_MANIFEST")
            with open(manifest, "w") as fh:
                for m in messages:
                    if m is not None and m.n_rows > 0:
                        fh.write(m.filename + "\n")

        def abort(self, messages):
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self._path, m.filename))
                    except OSError:
                        pass

    class _PySink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "events_pyarrow_sink"

        def writer(self, schema, overwrite):
            return _ArrowPartWriter(self.options["path"])

    spark.dataSource.register(_PySink)
    events = events_us(spark, sf_dir).filter(F.col("value") >= 0).select(
        "event_type", "value"
    )
    events.write.format("events_pyarrow_sink").option("path", out_dir).mode(
        "append"
    ).save()

    # Readers resolve the dataset through the manifest, never by listing
    # the directory — orphan parts from failed attempts stay invisible.
    committed = [
        os.path.join(out_dir, line.strip())
        for line in open(os.path.join(out_dir, "_MANIFEST"))
        if line.strip()
    ]
    if not committed:
        # Every part was empty (e.g. a fully-filtered input): the dataset
        # is legitimately empty — return its empty shape rather than hand
        # spark.read.parquet() zero paths (ADVICE r06: that raises).
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    back = spark.read.parquet(*committed)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    )
