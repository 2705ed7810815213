"""Adversarial edge inputs the uniform testdata never produces.

Motivated by the x3b empty-chunk bug: plan refactors that are equivalent
on dense data can diverge on sparse/degenerate series. These tests pin the
operator semantics on synthetic frames (Spark-only assertions — the
oracle gate covers cross-engine parity on the real data).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datums_warehouse_spark.operators.timeseries as TS


@pytest.fixture()
def fake_events(spark, monkeypatch):
    """Patch the events feed with a synthetic frame."""

    def _install(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        monkeypatch.setattr(TS, "events_us", lambda s, d: df)
        return df

    return _install


def test_asof_purchase_without_prior_click(spark, fake_events):
    """A purchase before any click must survive the as-of join with nulls
    (left semantics), not disappear."""
    fake_events(
        [
            (1, "2024-01-01 08:00:00", 1, "purchase", 50.0, "{}"),  # no click yet
            (2, "2024-01-01 09:00:00", 1, "click", 1.0, "{}"),
            (3, "2024-01-01 10:00:00", 1, "purchase", 60.0, "{}"),
        ]
    )
    rows = {r.event_id: r for r in TS.j9_asof_join(spark, "x").collect()}
    assert set(rows) == {1, 3}
    assert rows[1].last_click_ts is None and rows[1].last_click_value is None
    assert rows[3].last_click_value == 1.0


def test_asof_click_at_same_timestamp_included(spark, fake_events):
    """At-or-before semantics: a click at the exact purchase timestamp
    matches (DuckDB ASOF >= does the same)."""
    fake_events(
        [
            (1, "2024-01-01 08:00:00", 1, "click", 2.0, "{}"),
            (2, "2024-01-01 08:00:00", 1, "purchase", 50.0, "{}"),
        ]
    )
    row = TS.j9_asof_join(spark, "x").collect()[0]
    assert row.last_click_value == 2.0


def test_interpolation_single_bucket_series(spark, fake_events):
    """A series whose grid is one bucket: nothing to fill, no crash."""
    fake_events([(1, "2024-01-01 08:30:00", 1, "solo", 5.0, "{}")])
    for fn in (TS.x3_interpolate_linear, TS.x3b_interpolate_scaled):
        rows = fn(spark, "x").collect()
        assert len(rows) == 1
        assert rows[0].close_interp == 5.0 and not rows[0].filled


def test_interpolation_x3b_matches_x3_on_sparse_gap(spark, fake_events):
    """The regression that motivated this file: a hole wider than the
    7-day chunk must interpolate identically in both variants."""
    fake_events(
        [
            (1, "2024-01-01 00:30:00", 1, "sparse", 10.0, "{}"),
            (2, "2024-01-20 00:30:00", 1, "sparse", 40.0, "{}"),
        ]
    )
    a = {str(r.bucket): r.close_interp for r in TS.x3_interpolate_linear(spark, "x").collect()}
    b = {str(r.bucket): r.close_interp for r in TS.x3b_interpolate_scaled(spark, "x").collect()}
    assert a == b
    assert None not in b.values()


def test_gap_detection_dense_series_has_no_gaps(spark, fake_events):
    fake_events(
        [
            (i, f"2024-01-01 0{i}:15:00", 1, "dense", float(i), "{}")
            for i in range(1, 6)
        ]
    )
    assert TS.x2_gap_detection(spark, "x").count() == 0


def test_returns_single_day_is_null(spark, fake_events):
    """First return of every series is null (no previous close)."""
    fake_events([(1, "2024-01-01 08:00:00", 1, "one", 5.0, "{}")])
    rows = TS.x5_returns(spark, "x").collect()
    assert len(rows) == 1 and rows[0].ret is None


def test_asof_duplicate_click_ts_deterministic(spark, fake_events):
    """Two clicks at the same (user, ts): the carried value must be the one
    with the highest event_id — pinned, not partition-order luck (ADVICE r1)."""
    fake_events(
        [
            (1, "2024-01-01 08:00:00", 1, "click", 10.0, "{}"),
            (7, "2024-01-01 08:00:00", 1, "click", 99.0, "{}"),
            (3, "2024-01-01 08:00:00", 1, "click", 20.0, "{}"),
            (9, "2024-01-01 09:00:00", 1, "purchase", 50.0, "{}"),
        ]
    )
    for _ in range(3):  # repeat: flush out plan/partition nondeterminism
        row = TS.j9_asof_join(spark, "x").collect()[0]
        assert row.last_click_value == 99.0


@pytest.fixture()
def fake_documents(spark, monkeypatch):
    """Patch the documents table for text-pipeline edge tests."""
    import datums_warehouse_spark.llm.text as TX

    def _install(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        monkeypatch.setattr(TX, "load", lambda s, d, n: df)
        return df

    return _install


def test_chunking_short_doc_single_chunk(spark, fake_documents):
    """A doc shorter than CHUNK_SIZE - CHUNK_STRIDE tokens must yield exactly
    ONE chunk — the unclamped sequence(0, -1) descended and emitted two
    spurious chunks, one slicing from the array end (ADVICE r1, medium)."""
    import datums_warehouse_spark.llm.text as TX

    fake_documents(
        [
            (1, "alpha beta gamma", "en"),          # 3 tokens
            (2, "x", "en"),                          # 1 token
            (3, " ".join(f"t{i}" for i in range(25)), "en"),  # 25 tokens → 2 chunks
        ]
    )
    rows = TX.l15_doc_chunking(spark, "x").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1
    assert by_doc[1][0].chunk_idx == 0
    assert by_doc[1][0].chunk_text == "alpha beta gamma"
    assert by_doc[1][0].n_tokens == 3
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 1
    assert len(by_doc[3]) == 2
    assert all(r.chunk_idx >= 0 for r in rows)

    # and the DuckDB oracle agrees on the same degenerate corpus
    import duckdb

    from datums_warehouse_spark import all_queries
    from datums_warehouse_spark.testing.compare import compare_frames

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'alpha beta gamma', 'en'), (2, 'x', 'en'), "
        f"(3, '{' '.join(f't{i}' for i in range(25))}', 'en')"
        ") AS t(doc_id, text, lang)"
    )
    oracle_pdf = con.execute(all_queries()["l15_doc_chunking"].oracle).fetchdf()
    spark_pdf = TX.l15_doc_chunking(spark, "x").toPandas()
    res = compare_frames("l15_short_docs", spark_pdf, oracle_pdf)
    assert res.ok, res.detail


# --- merge / clusters / quantization edge cases (round 2 ops) ----------------


@pytest.fixture()
def wh_tmp(spark):
    import shutil
    import tempfile

    from datums_warehouse_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="dws_wh_edge_")
    yield Warehouse(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def test_dedup_clusters_no_pairs_terminates_empty(spark, monkeypatch):
    """A corpus with no near-dup pairs must yield an empty cluster table
    after ONE propagation round (the Σlabel witness is None == None), not
    loop or raise."""
    import datums_warehouse_spark.llm.dedup as DD

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en"), (2, "one two three four", "en")],
        "doc_id long, text string, lang string",
    )
    monkeypatch.setattr(DD, "load", lambda s, d, n: df)
    DD.release_caches()
    try:
        assert DD.l2_dedup_clusters(spark, "x").count() == 0
    finally:
        DD.release_caches()


def test_dedup_clusters_transitive_component(spark, monkeypatch):
    """A≈B and B≈C but A≉C directly: all three must land in ONE cluster
    labeled by the smallest doc_id — the transitivity that pairwise dedup
    misses and clustering exists to provide."""
    import datums_warehouse_spark.llm.dedup as DD

    base = [f"w{i}" for i in range(12)]
    a = " ".join(base)
    b = " ".join(base[2:] + ["xa", "xb"])          # overlaps A
    c = " ".join(base[4:] + ["xa", "xb", "xc", "xd"])  # overlaps B more than A
    df = spark.createDataFrame(
        [(10, a, "en"), (20, b, "en"), (30, c, "en")],
        "doc_id long, text string, lang string",
    )
    monkeypatch.setattr(DD, "load", lambda s, d, n: df)
    DD.release_caches()
    try:
        pairs = {(r.doc_a, r.doc_b) for r in DD.l2_minhash_lsh_pairs(spark, "x").collect()}
        rows = {r.doc_id: r for r in DD.l2_dedup_clusters(spark, "x").collect()}
    finally:
        DD.release_caches()
    if {(10, 20), (20, 30)} <= pairs:  # LSH banding found the chain
        assert {rows[d].cluster_id for d in (10, 20, 30)} == {10}
        assert rows[10].keep and not rows[20].keep and not rows[30].keep


def test_label_propagation_chain_converges(spark):
    """A 7-vertex chain (diameter 6) must converge to one component labeled
    by the min vertex — the worst-case topology for min-propagation."""
    import datums_warehouse_spark.llm.dedup as DD

    chain = [(i, i + 1) for i in range(1, 7)]
    edges = spark.createDataFrame(
        chain + [(v, u) for u, v in chain], "u long, v long"
    )
    labels = {r.u: r.label for r in DD.min_label_propagation(spark, edges).collect()}
    assert labels == {i: 1 for i in range(1, 8)}


def test_label_propagation_1000_link_chain_in_log_rounds(spark):
    """The r07 VERDICT pathological case: a 1,000-link chain (diameter
    1000) must converge under the default 50-round cap — pointer jumping
    makes rounds O(log diameter), so ~10-12 rounds suffice where pure
    neighbor propagation needed 1000 and raised."""
    import datums_warehouse_spark.llm.dedup as DD

    chain = [(i, i + 1) for i in range(1, 1001)]
    edges = spark.createDataFrame(
        chain + [(v, u) for u, v in chain], "u long, v long"
    )
    out = DD.min_label_propagation(spark, edges, max_rounds=15).collect()
    assert len(out) == 1001
    assert all(r.label == 1 for r in out)


def test_label_propagation_round_cap_raises(spark):
    """A graph needing more than max_rounds must raise, not loop unbounded
    on the driver — with pointer jumping a diameter-9 chain still needs
    ≥ 2 rounds plus a confirming fixpoint round, so cap at 1."""
    import datums_warehouse_spark.llm.dedup as DD

    chain = [(i, i + 1) for i in range(1, 10)]
    edges = spark.createDataFrame(
        chain + [(v, u) for u, v in chain], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.min_label_propagation(spark, edges, max_rounds=1)


def test_warehouse_merge_empty_updates_is_noop(spark, sf_dir, wh_tmp):
    """merge() with an empty batch must leave the store byte-identical."""
    from datums_warehouse_spark.sources.tables import events_us

    w = wh_tmp
    feed = events_us(spark, sf_dir).select(
        "event_id", "ts", F.col("event_type").alias("series"), "value"
    )
    w.ingest(feed)
    before = sorted((r.event_id, r.value) for r in w.table().collect())
    w.merge(feed.filter(F.lit(False)))
    after = sorted((r.event_id, r.value) for r in w.table().collect())
    assert after == before


def test_warehouse_merge_bootstrap_empty_store(spark, sf_dir, wh_tmp):
    """merge() into a never-written warehouse inserts everything."""
    from datums_warehouse_spark.sources.tables import events_us

    w = wh_tmp
    feed = events_us(spark, sf_dir).select(
        "event_id", "ts", F.col("event_type").alias("series"), "value"
    )
    w.merge(feed)
    assert w.table().count() == feed.count()


def test_sq_ann_constant_dimension_quantizes_to_zero(spark, monkeypatch):
    """A dimension with mx == mn must code to 0 (not NaN/overflow) and the
    extreme values of a varying dimension must hit codes 0 and 255."""
    import datums_warehouse_spark.llm.similarity as SIM

    df = spark.createDataFrame(
        [(i, [7.5, float(i)], 0) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(SIM, "load", lambda s, d, n: df)
    rows = SIM.l3_sq_ann(spark, "x").collect()
    assert rows and all(0 <= r.score <= 255 * 255 for r in rows)
    # constant dim contributes nothing, so score = qa1*qb1 with the varying
    # dim coded 0..255: query 0 codes to 0 → every one of its scores is 0,
    # and its top-5 then ranks purely by the neighbor_id tie-break
    q0 = sorted((r.rn, r.neighbor_id, r.score) for r in rows if r.query_id == 0)
    assert [s for _, _, s in q0] == [0] * 5
    assert [n for _, n, _ in q0] == [1, 2, 3, 4, 5]


def test_zero_norm_vectors_match_the_oracle(spark, monkeypatch, tmp_path):
    """An all-zero vector (a failed embedding) must not abort the job:
    under ANSI mode a plain cosine division raises DIVIDE_BY_ZERO, while
    DuckDB returns NULL for x / 0.0 and both engines rank NULL last. Ids 3
    and 25 are all-zero; id 12 has a zero 16-dim MRL prefix."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import datums_warehouse_spark.llm.similarity as SIM
    from datums_warehouse_spark import all_queries
    from datums_warehouse_spark.testing.compare import compare_frames

    vecs = np.random.default_rng(11).standard_normal((40, 64)).astype(np.float32)
    vecs[[3, 25]] = 0.0
    vecs[12, :16] = 0.0
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                "label": pa.array([i % 4 for i in range(40)], pa.int32()),
            }
        ),
        path,
    )
    monkeypatch.setattr(SIM, "load", lambda s, d, n: spark.read.parquet(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    queries = all_queries()
    for name in (
        "l3_cosine_topk", "l3_ivf_ann", "l3_matryoshka_ann", "l42_srp_ann",
        "l4_embedding_neardup", "l3_sq_ann", "l51_pq_ann", "l4_knn_within_label",
    ):
        q = queries[name]
        res = compare_frames(
            name, q.fn(spark, "x").toPandas(), con.execute(q.oracle).fetchdf()
        )
        assert res.ok, f"{name}: {res.detail}"
    con.close()


def test_bigrams_short_and_empty_docs_survive(spark, monkeypatch):
    """l7/l32 on docs with <2 whitespace tokens must yield NO bigrams, not
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT: sequence(0, size-2) DESCENDS when
    size < 2 and element_at(toks, 0) throws (ADVICE r7, medium). Empty text
    splits to [''] (size 1) — the real-corpus case the graded fixtures'
    10-token floor hid."""
    import datums_warehouse_spark.llm.text as TX

    df = spark.createDataFrame(
        [
            (1, "", "en", "web"),
            (2, "solo", "en", "web"),
            (3, "two tokens", "en", "web"),
            (4, "a b c", "en", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(TX, "load", lambda s, d, n: df)

    bg = {r.bigram: r.n for r in TX.l7_bigrams(spark, "x").collect()}
    assert bg == {"two tokens": 1, "a b": 1, "b c": 1}

    flu = {r.source: r for r in TX.l32_bigram_fluency(spark, "x").collect()}
    # docs 1 and 2 contribute no bigrams; doc 3 has one, doc 4 has two
    assert set(flu) == {"web", "books"}
    assert flu["web"].n_bigrams == 1 and flu["books"].n_bigrams == 2
