"""Headline benchmark — prints ONE JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], timing each to its
last row (``observe.timed_pass``), and prints
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.observe import timed_pass
from datums_warehouse_spark.session import cpus, get_spark

# Headline set: the flagship + one representative per operator family.
# The first 12 are the r01-r06 comparison set; later rounds appended the
# rest, so past BENCH_r*.json subtotals are prefixes of this list.
HEADLINE = [
    "a8_candles_1h",          # flagship OHLCV aggregation
    "x1_resample_1h_to_1d",   # candle resample
    "a1_pricing_summary",     # TPC-H Q1 heavy scan+agg
    "j3_star_join",           # multi-way star join
    "j2_shuffle_fact_join",   # fact-fact shuffle join
    "w3_running_total",       # keyed window scan
    "x3_interpolate_linear",  # grid + interpolation
    "j9_asof_join",           # as-of join
    "l2_minhash_lsh_pairs",   # shingle/minhash/LSH dedup
    "l3_cosine_topk",         # vector similarity
    "l6_tfidf",               # text pipeline
    "t3_session_window",      # sessionization
    # round-6/7 surface (VERDICT r06 task 7): connector, subquery-heavy
    # TPC-H shape, corpus self-join — so BENCH_r07+ tracks their cost
    "s10_python_datasource",  # custom Python DataSource scan
    "comp19_min_cost_supplier",  # TPC-H Q2 decorrelated shape
    "l21_source_overlap",     # trigram-Jaccard source overlap
    # mid-round-7 additions
    "j12_bloom_prefilter_join",  # explicit bloom runtime-filter join
    "l27_token_budget_pick",     # budgeted pick via range-sharded cumsum
    # late-round-7 addition
    "j13_interval_bucket_join",  # bucketed large×large interval join
    # round-8 additions (VERDICT r07 task 8): the most expensive graded
    # family — end-to-end LSH dedup clustering (regressions there were
    # invisible to BENCH) — and the new duplicated-passage detector
    "l2_dedup_clusters",         # LSH pairs → connected components
    "l33_dup_passages",          # substring-level duplicated passages
    # round-9 addition: SemDeDup embedding-cluster dedup (adaptive-K cells
    # → within-cell cosine pairs) — the new semantic-dedup pipeline stage
    "l41_semdedup_pairs",
    # round-10 addition: the incremental SemDeDup loop (new-vs-index
    # within index-derived cells) — the second applyInPandas-kernel
    # pipeline stage, regression-visible alongside l41. (l45 stayed out:
    # its stress row is flat — 0.9 ratio at 32× — per the VERDICT r09
    # task-8 conditional.)
    "l47_incremental_semdedup",
    # round-12 additions: C4 cross-corpus line dedup (the new heavy text
    # stage — token-window split + corpus hash count + reassembly) and
    # the SemDeDup pair kernel with per-cell routing (the family's
    # production shape; its delta vs l41 is the per-cell count plus the
    # hot cells' block replication)
    "l50_c4_line_dedup",
    "l52_semdedup_adaptive",
]

# A query whose (max−min)/median over its passes exceeds this within one
# bench run has an untrustworthy median (VERDICT r10: l2_dedup_clusters
# published 6.24 s ± 3.83 — pure sandbox contention); escalate its repeats
# and, if the ratio persists, flag the whole run as noisy in the JSON so a
# judge never has to guess whether a slow median is real. The RUN-level
# flag additionally requires the unstable median to clear an absolute
# floor: a 0.3 s query at ±0.15 s of scheduler jitter trips the ratio on
# every run of this sandbox while moving the totals by nothing — only an
# unstable HEAVY query (the r10 case: 6.24 s) can distort a subtotal.
SPREAD_RATIO_LIMIT = 0.5
NOISY_MEDIAN_FLOOR_SEC = 0.5
ESCALATED_REPEATS = 9

# The machine's speed may drift during a run (one published run's start
# calibration was 2.4× its end one). A run whose start and end
# calibration medians differ by more than this factor re-runs its timed
# passes once, and the calmer of the two attempts is published.
CALIBRATION_DRIFT_LIMIT = 2.0


def calibration_drift(start: list[float], end: list[float]) -> float:
    """Slower over faster of the start and end calibration medians (≥ 1)."""
    a, b = statistics.median(start), statistics.median(end)
    return max(a, b) / min(a, b)


def machine_drifted(start: list[float], end: list[float]) -> bool:
    """True when the machine's speed moved more than
    CALIBRATION_DRIFT_LIMIT× between one attempt's start and end
    calibration: the attempt's timings mix two machines."""
    return calibration_drift(start, end) > CALIBRATION_DRIFT_LIMIT


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:  # dir name without an sf<N> suffix
        sf = 0.0
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = get_spark("bench")

    # Machine-speed calibration: fixed synthetic work (no I/O, no shuffle —
    # one codegen'd range-agg) whose wall time tracks the sandbox's CPU
    # speed that round. r03→r04 and r07→r08 both showed uniform ~1.4×
    # swings across ALL queries with zero code delta; dividing headline
    # times by this number makes rounds comparable. Median of 3.
    def _calib() -> float:
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr(
            "sum(id * 2654435761 % 1000) AS s"
        ).collect()
        return time.perf_counter() - t0

    _calib()  # warm
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]
    # warm pass: JVM JIT, parquet footers, plan compilation — measured passes
    # reflect steady-state execution, comparable round over round
    for name in names:
        timed_pass(spark, qs[name].fn, sf_dir)

    def _spread_ratio(ts: list[float]) -> float:
        med = statistics.median(ts)
        return (max(ts) - min(ts)) / med if med else 0.0

    def _attempt():
        """Start calibration, the timed passes, end calibration."""
        calib_start = [_calib() for _ in range(3)]
        # per-query median over `repeats` post-warm passes: a single pass
        # is at the mercy of sandbox scheduling noise (r03→r04 showed a
        # uniform 1.4× swing with zero code delta), medians make
        # round-over-round deltas mean something. All passes of one query
        # run back-to-back so each median sees the same cache/JIT state.
        runs: dict[str, list[float]] = {n: [] for n in names}
        escalated: dict[str, int] = {}
        for name in names:
            for _ in range(repeats):
                runs[name].append(timed_pass(spark, qs[name].fn, sf_dir))
            # noise guard: an unstable median gets more passes before
            # publication — contention is transient, so extra samples
            # usually pull the median back to the steady state. A sub-3
            # repeats setting is a smoke run and is never escalated.
            if repeats >= 3 and _spread_ratio(runs[name]) > SPREAD_RATIO_LIMIT:
                before = len(runs[name])
                while len(runs[name]) < ESCALATED_REPEATS:
                    runs[name].append(timed_pass(spark, qs[name].fn, sf_dir))
                # report a query as escalated only when extra passes ran
                # (repeats may already be at ESCALATED_REPEATS)
                if len(runs[name]) > before:
                    escalated[name] = len(runs[name])
        # calibration re-measured AFTER the queries: machine speed drifts
        # on minute timescales (the r11 idle re-runs saw 0.41→0.76 within
        # one run), so a start-only sample can misattribute drift to the
        # queries.
        calib_end = [_calib() for _ in range(3)]
        return calib_start, runs, escalated, calib_end

    attempt = _attempt()
    # a drifted attempt re-runs once (a smoke run never does); the calmer
    # attempt is published, and one that still drifted marks the run noisy
    rerun = repeats >= 3 and machine_drifted(attempt[0], attempt[3])
    if rerun:
        attempt = min(attempt, _attempt(), key=lambda a: calibration_drift(a[0], a[3]))
    calib_start, runs, escalated, calib_end = attempt
    drifted = machine_drifted(calib_start, calib_end)
    timings = {n: round(statistics.median(ts), 3) for n, ts in runs.items()}
    timings_min = {n: round(min(ts), 3) for n, ts in runs.items()}
    noisy_out = sorted(
        n for n, ts in runs.items() if _spread_ratio(ts) > SPREAD_RATIO_LIMIT
    )
    noisy_heavy = [n for n in noisy_out if timings[n] >= NOISY_MEDIAN_FLOOR_SEC]
    total = sum(timings.values())

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "value_min": round(sum(timings_min.values()), 3),
                "sf": sf,
                # effective execution context (VERDICT r12 task 2a): at
                # sf0.1 every headline query is sub-second and overhead-
                # bound, so a lower $SPARK_GRAFT_CPUS can leave timings
                # flat — echoing the master the session REALLY ran with
                # lets a reader distinguish "env var ignored" from
                # "insensitive at this scale factor"
                "cpus": cpus(),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                # The published calibration_min_sec is the best
                # uncontended-CPU estimate (noise only ever ADDS time to
                # fixed work).
                "calibration_sec": round(statistics.median(calib_start), 3),
                "calibration_end_sec": round(statistics.median(calib_end), 3),
                "calibration_min_sec": round(min(calib_start + calib_end), 3),
                "calibration_rerun": rerun,
                "repeats": repeats,
                "repeats_escalated": escalated,
                "spread": {
                    n: round(max(ts) - min(ts), 3) for n, ts in runs.items()
                },
                "spread_ratio": {
                    n: round(_spread_ratio(ts), 3) for n, ts in runs.items()
                },
                # queries whose spread_ratio stayed above SPREAD_RATIO_LIMIT
                # even after escalation — their medians are NOT trustworthy
                # this run; the run-level flag fires when such a query is
                # HEAVY enough (median ≥ NOISY_MEDIAN_FLOOR_SEC) to distort
                # a subtotal (sub-second jitter can't), or when the
                # published attempt's calibration drifted
                "noisy_queries": noisy_out,
                "noisy": bool(noisy_heavy) or drifted,
            }
        )
    )


if __name__ == "__main__":
    main()
