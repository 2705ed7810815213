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
    assert rec["calibration_sec"] > 0
    # noise-guard fields (VERDICT r10 task 7): stability must be
    # machine-readable so a judge never has to guess whether a slow
    # median is real
    assert rec["calibration_min_sec"] > 0
    assert rec["calibration_min_sec"] <= rec["calibration_sec"]
    assert rec["calibration_end_sec"] > 0
    assert set(rec["spread_ratio"]) == set(rec["queries"])
    assert isinstance(rec["noisy"], bool)
    assert isinstance(rec["noisy_queries"], list)
    assert isinstance(rec["repeats_escalated"], dict)


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
