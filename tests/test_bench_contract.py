"""bench.py's output IS the driver's BENCH artifact — one JSON line with
a fixed shape. A syntax slip or a stray print would silently cost a
round's benchmark record, so pin the contract: runs as a subprocess at
sf0.001 with a single repeat (~1 min), asserts exactly one parseable JSON
line on stdout with the required keys and sane values.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_valid_json_line():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=600,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_REPEATS": "1",
            "SPARK_GRAFT_CPUS": "8",
        },
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1, f"expected exactly one JSON line, got: {proc.stdout!r}"
    rec = json.loads(json_lines[0])
    assert rec["metric"] == "headline_total"
    assert rec["unit"] == "sec"
    assert rec["value"] > 0
    assert rec["sf"] == 0.001
    assert rec["queries"] and all(v >= 0 for v in rec["queries"].values())
    assert abs(sum(rec["queries"].values()) - rec["value"]) < 0.05
    # cross-round comparison fields (r09): raw subtotals for the frozen
    # r07/r08 sets plus the calibration-normalized r08 subtotal
    assert 0 < rec["prev_18_total"] <= rec["prev_20_total"] <= rec["value"]
    assert rec["calibration_sec"] > 0
    assert rec["normalized_prev_total"] > 0
    # noise-guard fields (VERDICT r10 task 7): stability must be
    # machine-readable so a judge never has to guess whether a slow
    # median is real
    assert rec["calibration_min_sec"] > 0
    assert rec["calibration_min_sec"] <= rec["calibration_sec"]
    assert rec["calibration_end_sec"] > 0
    assert set(rec["spread_ratio"]) == set(rec["queries"])
    assert isinstance(rec["noisy"], bool)
    assert isinstance(rec["noisy_queries"], list)
    assert 0 < rec["prev_21_min_total"] <= rec["prev_21_total"]
    assert 0 < rec["prev_22_min_total"] <= rec["prev_22_total"] <= rec["value"]


def test_frozen_comparison_sets_match_headline_prefix():
    """The named subtotals are membership-frozen (ADVICE r08); this pins
    that the frozen sets still equal the HEADLINE prefixes they froze, so
    a reorder/insertion fails here instead of silently shifting what the
    cross-round numbers cover."""
    import bench

    assert bench.LEGACY_12 == frozenset(bench.HEADLINE[:12])
    assert bench.PREV_18 == frozenset(bench.HEADLINE[:18])
    assert bench.PREV_20 == frozenset(bench.HEADLINE[:20])
    assert bench.PREV_21 == frozenset(bench.HEADLINE[:21])
    assert bench.PREV_22 == frozenset(bench.HEADLINE[:22])
    assert bench.PREV_22 - bench.PREV_21 == {"l47_incremental_semdedup"}
    assert bench.PREV_20 == frozenset(
        {
            "a8_candles_1h", "x1_resample_1h_to_1d", "a1_pricing_summary",
            "j3_star_join", "j2_shuffle_fact_join", "w3_running_total",
            "x3_interpolate_linear", "j9_asof_join", "l2_minhash_lsh_pairs",
            "l3_cosine_topk", "l6_tfidf", "t3_session_window",
            "s10_python_datasource", "comp19_min_cost_supplier",
            "l21_source_overlap", "j12_bloom_prefilter_join",
            "l27_token_budget_pick", "j13_interval_bucket_join",
            "l2_dedup_clusters", "l33_dup_passages",
        }
    )


def test_malformed_cpus_falls_back_to_the_core_count(monkeypatch):
    """bench.py echoes the core count in its report, after every timed
    pass has run: a malformed $SPARK_GRAFT_CPUS must fall back to the
    machine's cores there (and in the session's master) instead of
    raising and discarding the finished run."""
    import bench
    from datums_warehouse_spark.session import cpus

    assert bench.cpus is cpus
    for bad in ("four", "", "4.0", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert cpus() == (os.cpu_count() or 8), bad
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpus() == 3
