"""Unit tests of the benchmark's own arithmetic and checks (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from measure import cpu_count, tail_percentile  # noqa: E402
from tracing import self_time  # noqa: E402
from workloads import oracle_failure, warehouse_violations  # noqa: E402


def test_p90_is_reported_only_with_ten_samples_beyond_it():
    assert tail_percentile([float(i) for i in range(99)], 0.9) is None
    assert tail_percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    assert tail_percentile([], 0.5) is None


def test_self_time_subtracts_the_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},  # overlaps the first: counted once
        {"start": 8.0, "end": 12.0},  # runs past the parent: clipped
    ]
    assert self_time(parent, kids) == 4.0
    assert self_time(parent, []) == 10.0


def test_a_wrong_frame_trips_the_oracle_check():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert oracle_failure("q", oracle.iloc[::-1].reset_index(drop=True), oracle) is None
    wrong_value = oracle.assign(v=[0.5, 1.5, 2.6])
    assert oracle_failure("q", wrong_value, oracle)
    assert oracle_failure("q", oracle.iloc[:2], oracle)
    assert oracle_failure("q", oracle.rename(columns={"v": "w"}), oracle)


def _rows(day: int, series: str, n: int, first_id: int) -> pd.DataFrame:
    ts = pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(days=day)
    return pd.DataFrame(
        {
            "event_id": range(first_id, first_id + n),
            "ts": [ts + pd.Timedelta(minutes=i) for i in range(n)],
            "series": series,
            "value": [float(i) + 0.5 for i in range(n)],
        }
    )


def _latest(stored: pd.DataFrame) -> pd.DataFrame:
    g = stored.groupby("series")
    return pd.DataFrame({"cursor": g["ts"].max(), "n": g.size()}).reset_index()


def test_a_dropped_batch_trips_the_warehouse_invariants():
    batches = [_rows(0, "click", 5, 0), _rows(1, "click", 5, 5), _rows(1, "view", 3, 10)]
    fed = pd.concat(batches)
    none = fed.iloc[:0]
    assert warehouse_violations(fed, _latest(fed), fed, none) == []
    dropped = pd.concat(batches[:2])  # the last batch never landed
    assert warehouse_violations(dropped, _latest(dropped), fed, none)
    stale = pd.concat([batches[0], batches[2]])  # a middle batch lost: cursor of click is stale
    assert len(warehouse_violations(stale, _latest(stale), fed, none)) == 2


def test_merged_rows_must_carry_their_revised_values():
    fed = _rows(0, "click", 5, 0)
    revised = fed.iloc[[1, 3]].assign(value=[100.0, 300.0])
    merged = fed.copy()
    merged.loc[merged.index[[1, 3]], "value"] = [100.0, 300.0]
    assert warehouse_violations(merged, _latest(merged), fed, revised) == []
    assert warehouse_violations(fed, _latest(fed), fed, revised)


def test_malformed_core_count_falls_back_to_nproc():
    nproc = cpu_count({})
    assert nproc >= 1
    assert cpu_count({"SPARK_GRAFT_CPUS": "3"}) == 3
    for bad in ("", "four", "0", "-2", "2.5"):
        assert cpu_count({"SPARK_GRAFT_CPUS": bad}) == nproc
