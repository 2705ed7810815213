"""Physical-layout and algebraic contracts for the round-7 additions the
oracle hash can't see: s12's file-level compaction claims, j12's bloom
prefilter set algebra, and l27's budget feasibility."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datums_warehouse_spark.sources import sinks
from datums_warehouse_spark.sources.tables import load, scratch_path


def _parquet_parts(path: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and f.startswith("part-")
    ]


class TestCompaction:
    @pytest.fixture(scope="class")
    def dirs(self, spark, sf_dir):
        sinks.s12_compaction(spark, sf_dir).collect()
        return (
            scratch_path("s12_fragmented", sf_dir),
            scratch_path("s12_compacted", sf_dir),
        )

    def test_file_count_shrinks(self, dirs):
        frag, comp = dirs
        n_frag, n_comp = len(_parquet_parts(frag)), len(_parquet_parts(comp))
        assert n_frag == sinks.FRAGMENT_FILES
        assert 0 < n_comp <= sinks.COMPACT_FILES
        assert n_comp < n_frag

    def test_ts_ranges_pairwise_disjoint(self, dirs):
        """repartitionByRange gives each compacted file a disjoint ts span —
        the property that makes parquet footer min/max pruning effective."""
        _, comp = dirs
        spans = []
        for f in _parquet_parts(comp):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("ts")
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            spans.append((min(los), max(his)))
        spans.sort()
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev <= lo_next

    def test_no_rows_lost(self, spark, dirs):
        frag, comp = dirs
        n_frag = spark.read.parquet(frag).count()
        n_comp = spark.read.parquet(comp).count()
        assert n_frag == n_comp


class TestBloomPrefilter:
    def test_prefilter_is_superset_and_confirm_exact(self, spark, sf_dir):
        """The bloom stage may pass false positives but never drops a true
        match; the confirm semi-join restores the exact key set."""
        from datums_warehouse_spark.operators import joins

        li = load(spark, sf_dir, "lineitem").select("l_orderkey")
        urgent = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        truth = {
            r[0]
            for r in li.join(
                urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
            ).distinct().collect()
        }
        bm = joins.bloom_bitmap(urgent, "o_orderkey")
        bloom_pass = {
            r[0]
            for r in joins.bloom_prefilter(li, "l_orderkey", bm)
            .select("l_orderkey")
            .distinct()
            .collect()
        }
        assert truth <= bloom_pass  # no false negatives, ever

    def test_bitmap_sizes_with_key_count_and_is_bounded(self, spark, sf_dir):
        """m adapts to the build-side cardinality (a fixed m saturates as
        keys grow) and stays within the [MIN, MAX] clamp, in whole words."""
        from datums_warehouse_spark.operators import joins

        orders = load(spark, sf_dir, "orders").select("o_orderkey")
        small = orders.limit(10)
        row_small = joins.bloom_bitmap(small, "o_orderkey").collect()[0]
        assert row_small.bm == joins.BLOOM_BITS_MIN  # clamped up
        assert len(row_small.bf) == row_small.bm // 64

        big = spark.range(20000).withColumnRenamed("id", "k")
        row_big = joins.bloom_bitmap(big, "k").collect()[0]
        assert row_big.bm >= 20000 * joins.BLOOM_BITS_PER_KEY
        assert row_big.bm <= joins.BLOOM_BITS_MAX
        assert row_big.bm % 64 == 0
        assert len(row_big.bf) == row_big.bm // 64


class TestTokenBudgetPick:
    def test_budget_respected_and_greedy(self, spark, sf_dir, duck):
        """Total picked tokens fit the budget, and no unpicked document has
        strictly higher quality than every picked one (greedy order)."""
        from datums_warehouse_spark.llm import text

        out = text.l27_token_budget_pick(spark, sf_dir).collect()
        picked_tokens = sum(r.tokens_picked for r in out)
        total = duck.execute(
            "SELECT sum(len(string_split(text, ' '))) FROM documents"
        ).fetchone()[0]
        budget = int(total) // text.BUDGET_FRACTION
        assert 0 < picked_tokens <= budget
        # the next doc in quality order must not have fit (greedy tightness):
        # adding the single highest-quality unpicked doc overshoots.
        nxt = duck.execute(
            """
            WITH q AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
                           * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                              / len(string_split(text, ' '))) AS quality
                FROM documents
            ),
            c AS (
                SELECT n_tokens,
                       sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
                FROM q
            )
            SELECT min(n_tokens) FROM c WHERE cum > ?
            """,
            [budget],
        ).fetchone()[0]
        if nxt is not None:
            # documents are picked in quality order, so the first excluded
            # one (smallest overshoot) must not fit in the remaining budget
            first_excluded = duck.execute(
                """
                WITH q AS (
                    SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                           least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)
                               * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                                  / len(string_split(text, ' '))) AS quality
                    FROM documents
                ),
                c AS (
                    SELECT n_tokens,
                           sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
                    FROM q
                )
                SELECT n_tokens FROM c WHERE cum > ? ORDER BY cum LIMIT 1
                """,
                [budget],
            ).fetchone()[0]
            assert picked_tokens + first_excluded > budget


class TestVacuum:
    def test_orphans_removed_and_content_exact(self, spark, sf_dir):
        """After s13, every surviving part is manifest-listed and a
        listing-based read returns exactly the source row count — the
        double-count an unvacuumed orphan causes is gone."""
        sinks.s13_vacuum(spark, sf_dir).collect()
        out = scratch_path("s13_vacuum", sf_dir)
        manifest = {
            line.strip()
            for line in open(os.path.join(out, "_MANIFEST"))
            if line.strip()
        }
        on_disk = {f for f in os.listdir(out) if f.endswith(".parquet")}
        assert on_disk == manifest
        n_src = load(spark, sf_dir, "events").count()
        assert spark.read.parquet(out).count() == n_src

    def test_orphan_injection_would_double_count(self, spark, sf_dir, tmp_path):
        """The scenario is real: by-listing reads DO double-count an orphan
        part (the failure mode vacuum exists for)."""
        import shutil

        out = str(tmp_path / "store")
        load(spark, sf_dir, "events").limit(100).repartition(2).write.parquet(out)
        parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        shutil.copy(
            os.path.join(out, parts[0]),
            os.path.join(out, "part-orphan-deadbeef.parquet"),
        )
        assert spark.read.parquet(out).count() > 100


class TestDedupMaterialize:
    def test_before_after_consistency(self, spark, sf_dir):
        """after = before − dropped, summed over sources; survivors include
        every cluster canonical and every never-clustered doc."""
        from datums_warehouse_spark.llm import dedup

        out = dedup.l29_dedup_materialize(spark, sf_dir).collect()
        clusters = dedup.l2_dedup_clusters(spark, sf_dir).collect()
        n_dropped = sum(1 for r in clusters if not r.keep)
        before = sum(r.n_docs_before for r in out)
        after = sum(r.n_docs_after for r in out)
        assert before - after == n_dropped
        assert load(spark, sf_dir, "documents").count() == before


class TestSnapshotDiff:
    @pytest.fixture(scope="class")
    def by_type(self, spark, sf_dir):
        rows = sinks.s14_snapshot_diff(spark, sf_dir).collect()
        return {r["change_type"]: r for r in rows}

    def test_classification_counts(self, spark, sf_dir, by_type):
        """Each class's count must equal the direct predicate count on the
        base table — the join classification adds nothing and loses
        nothing."""
        k = load(spark, sf_dir, "orders").select("o_orderkey")
        n = lambda c: k.filter(c).count()  # noqa: E731
        key = F.col("o_orderkey")
        assert by_type["insert"]["n_orders"] == n((key % 13 == 0) & (key % 11 != 0))
        assert by_type["delete"]["n_orders"] == n((key % 11 == 0) & (key % 13 != 0))
        assert by_type["update"]["n_orders"] == n(
            (key % 13 != 0) & (key % 11 != 0) & (key % 7 == 0)
        )
        assert by_type["unchanged"]["n_orders"] == n(
            (key % 13 != 0) & (key % 11 != 0) & (key % 7 != 0)
        )

    def test_update_delta_is_exact(self, by_type):
        """+100.0 is exact in binary floating point, so the update class's
        net delta is exactly 100 × its row count."""
        u = by_type["update"]
        assert u["net_price_delta"] == pytest.approx(100.0 * u["n_orders"], abs=1e-6)
        assert by_type["unchanged"]["net_price_delta"] == 0.0


class TestLengthDeciles:
    def test_matches_single_window_ntile(self, spark, sf_dir):
        """The sharded-rank formulation must reproduce SQL ntile bit-for-bit
        — same per-decile membership as the global-window plan it
        replaces."""
        from pyspark.sql import Window

        from datums_warehouse_spark.llm import text

        got = {
            r["decile"]: (r["n_docs"], r["min_chars"], r["max_chars"], r["sum_chars"])
            for r in text.l30_length_deciles(spark, sf_dir).collect()
        }
        d = load(spark, sf_dir, "documents")
        ref = {
            r["decile"]: (r["n_docs"], r["min_chars"], r["max_chars"], r["sum_chars"])
            for r in d.select(
                "n_chars",
                F.ntile(text.N_TILES)
                .over(Window.orderBy("n_chars", "doc_id"))
                .alias("decile"),
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("n_chars").alias("min_chars"),
                F.max("n_chars").alias("max_chars"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .collect()
        }
        assert got == ref

    def test_tile_sizes_and_order(self, spark, sf_dir):
        from datums_warehouse_spark.llm import text

        rows = sorted(
            text.l30_length_deciles(spark, sf_dir).collect(),
            key=lambda r: r["decile"],
        )
        total = load(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in rows) == total
        sizes = [r["n_docs"] for r in rows]
        # ntile: first (total mod k) tiles get the extra row
        big, small = -(-total // text.N_TILES), total // text.N_TILES
        assert all(s in (big, small) for s in sizes)
        assert sizes == sorted(sizes, reverse=True)
        for prev, nxt in zip(rows, rows[1:]):
            assert prev["max_chars"] <= nxt["min_chars"]


class TestBloomSizing:
    # (clamp/word-rounding dimensions are covered by TestBloomPrefilter.
    # test_bitmap_sizes_with_key_count_and_is_bounded)
    def test_empty_key_set_filters_everything(self, spark, sf_dir):
        from datums_warehouse_spark.operators import joins

        li = load(spark, sf_dir, "lineitem").select("l_orderkey")
        empty = li.filter(F.lit(False)).select(F.col("l_orderkey").alias("k"))
        bm = joins.bloom_bitmap(empty, "k")
        assert joins.bloom_prefilter(li, "l_orderkey", bm).count() == 0


class TestIntervalBucketJoin:
    def test_matches_naive_theta_join(self, spark, sf_dir):
        """The bucket decomposition must reproduce the naive (quadratic)
        interval join exactly — each true (session, event) pair joins
        exactly once, zero-concurrency sessions included."""
        from datums_warehouse_spark.operators import joins
        from datums_warehouse_spark.sources.tables import events_us

        got = {
            (r["user_id"], r["session_start"]): r["n_concurrent"]
            for r in joins.j13_interval_bucket_join(spark, sf_dir).collect()
        }

        e = events_us(spark, sf_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        sid_w = (
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sessions = (
            e.select(
                "user_id",
                "ts",
                F.when(
                    F.lag("ts").over(w).isNull()
                    | (
                        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                        >= 1800 * 1_000_000
                    ),
                    1,
                )
                .otherwise(0)
                .alias("flag"),
            )
            .withColumn("sid", F.sum("flag").over(sid_w))
            .groupBy("user_id", "sid")
            .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"))
        )
        other = e.select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        naive = {
            (r["user_id"], r["session_start"]): r["n"]
            for r in sessions.join(
                other,
                (F.col("e_ts") >= F.col("session_start"))
                & (F.col("e_ts") <= F.col("session_end"))
                & (F.col("e_user") != F.col("user_id")),
                "left",
            )
            .groupBy("user_id", "session_start")
            .agg(F.count("e_ts").alias("n"))
            .collect()
        }
        assert got == naive
        assert sum(got.values()) > 0  # non-trivial fixture


class TestAsofNearest:
    def test_nearest_never_farther_than_backward(self, spark, sf_dir):
        """For every purchase that j9 matches backward, the nearest match
        must be at distance <= the backward distance, and exact-ts /
        equidistant cases must resolve to the backward click."""
        from datums_warehouse_spark.operators import timeseries

        back = {
            r["event_id"]: r["last_click_ts"]
            for r in timeseries.j9_asof_join(spark, sf_dir).collect()
        }
        near = {
            r["event_id"]: r["nearest_click_ts"]
            for r in timeseries.j9b_asof_nearest(spark, sf_dir).collect()
        }
        rows = {
            r["event_id"]: r["ts"]
            for r in timeseries.j9_asof_join(spark, sf_dir).collect()
        }
        assert set(back) == set(near)
        closer = 0
        for eid, bts in back.items():
            nts = near[eid]
            if bts is None:
                continue  # nearest may still find a forward click
            assert nts is not None
            d_b = abs((rows[eid] - bts).total_seconds())
            d_n = abs((rows[eid] - nts).total_seconds())
            assert d_n <= d_b
            if d_n < d_b:
                closer += 1
        assert closer > 0  # the forward direction genuinely fires
