"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload series_analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up starts a ``local[<cores>]`` session,
generates the workload's inputs from ``--seed`` and runs one warm-up pass
whose outputs are checked (against the DuckDB oracles, or the warehouse
invariants). Whole passes are then timed until at least ``--seconds``
have passed (one pass of each workload takes 7-12 s on 4 cores).
Every operation is timed from the call that builds it until its last row
is produced (a ``noop`` sink), or, for warehouse writes, until the
``Warehouse`` method returns.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
timed pass and reports per-layer metrics, plus the tracing overhead: the
time the tracer spent outside its spans, as a share of the rest of the
run (what it costs the run's ``ops_per_s``). Everything the run writes stays under
``.bench_build/perfbench``. The line before the result holds the run record:
seed, cores, master, versions, calibration, and the metrics the result line
has no room for.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)

QUERY_LAYERS = (
    "operators.candles", "operators.timeseries", "operators.windows", "operators.joins",
    "operators.aggregates", "operators.composite", "streaming.batch_equiv",
    "llm.dedup", "llm.similarity", "llm.text",
)  # fmt: skip
QUERY_LAYER_METRICS = (
    ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
)  # fmt: skip
WAREHOUSE_METHODS = ("update_incremental", "merge", "compact", "series", "candles", "latest", "validate")
CALIBRATION_SPREAD_LIMIT = 2.0
HEAP = "2g"


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in QUERY_LAYERS for m, u in QUERY_LAYER_METRICS}
    units.update({f"warehouse.{m}_s": "s" for m in WAREHOUSE_METHODS})
    units.update(
        {
            "warehouse.jobs": "count",
            "warehouse.files_read_per_read": "count",
            "warehouse.bytes_written_per_user_byte": "ratio",
            "session.start_s": "s",
            "trace.overhead_ratio": "ratio",
        }
    )
    return units


def _setup_env(cpus: int) -> None:
    """Keep every file Spark, Python and DuckDB write inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # A fixed heap size: a heap that grows on demand reaches a different
    # size on every run, and its resident memory with it.
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP


def _git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    done = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return done.stdout.strip() or "unknown"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(workload: str, timed, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """(metrics of the result line, extra metrics for the record)."""
    from measure import median, tail_percentile

    ops = timed.ops
    lat = [op.seconds for op in ops if op.ok and op.seconds is not None]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lat) / timed.seconds, "1/s"),
        "op_p50_s": (median(lat), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    extra = {
        "op_p90_s": (tail_percentile(lat, 0.9), "s"),
        "op_samples": (len(lat), "count"),
        "failed_ratio": (sum(not op.ok for op in ops) / max(len(ops), 1), "ratio"),
    }
    if workload == "warehouse_cycle":
        from workloads import READS

        reads = [op.seconds for op in ops if op.ok and op.kind in READS]
        writes = [op for op in ops if op.ok and op.kind == "update_incremental"]
        extra.update(
            {
                "read_p50_s": (median(reads), "s"),
                "read_p90_s": (tail_percentile(reads, 0.9), "s"),
                "read_samples": (len(reads), "count"),
                "write_p50_s": (median([op.seconds for op in writes]), "s"),
                "compact_s": (
                    median([op.seconds for op in ops if op.ok and op.kind == "compact"]), "s"
                ),
                "ingest_rows_per_s": (
                    sum(op.rows for op in writes) / sum(op.seconds for op in writes), "rows/s"
                ),
            }
        )
    return metrics, extra


def _per_layer(tracer, workload, timed, session_s: float) -> dict:
    """Per-op means of each layer's spans; layers the workload does not run
    read 0."""
    values = dict.fromkeys(per_layer_units(), 0.0)
    values["session.start_s"] = session_s
    values["trace.overhead_ratio"] = tracer.overhead_s / (timed.seconds - tracer.overhead_s)
    by_parent: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_parent.setdefault(s["parent"], []).append(s)
    from tracing import self_time
    from workloads import READS

    sums: dict[str, list[float]] = {}
    for span in tracer.spans:
        layer = span.get("layer")
        if span["name"] == "op" and layer in QUERY_LAYERS:
            kids = by_parent.get(span["id"], [])
            row = {m: sum(k.get(m, 0) for k in kids) for m, _ in QUERY_LAYER_METRICS[2:]}
            for kid in kids:
                part = kid["name"].rsplit(".", 1)[-1]  # build or exec
                row[f"{part}_s"] = self_time(kid, by_parent.get(kid["id"], []))
            for m, v in row.items():
                sums.setdefault(f"{layer}.{m}", []).append(v)
        elif span["name"].startswith("warehouse."):
            method = span["name"].split(".", 1)[1]
            sums.setdefault(f"warehouse.{method}_s", []).append(span["end"] - span["start"])
            sums.setdefault("warehouse.jobs", []).append(span["jobs"])
            if method in READS:
                sums.setdefault("warehouse.files_read_per_read", []).append(span["files_read"])
    for key, vs in sums.items():
        values[key] = statistics.fmean(vs)
    if hasattr(workload, "user_bytes"):
        written = sum(s.get("output_bytes", 0) for s in tracer.spans if s["name"].startswith("warehouse."))
        cycles = len(timed.ops) / len(workload.schedule)
        values["warehouse.bytes_written_per_user_byte"] = written / (workload.user_bytes * cycles)
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from measure import cpu_count, nproc

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run holds .bench_build/perfbench/lock", file=sys.stderr)
        return 3
    cpus = cpu_count()
    _setup_env(cpus)
    try:
        import workloads
        from measure import calibrate, jvm_pid, peak_rss_mb, reset_peak_rss
        from tracing import Tracer

        import pyspark
        from datums_warehouse_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)  # fmt: skip
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        warm_s = wl.warm_up()
        setup_s = session_s + gen_s + warm_s

        pids = [os.getpid(), jvm_pid(spark)]
        peak_reset = reset_peak_rss(pids)
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(run_id, spark) if args.trace else None
        calib_start = calibrate(spark)
        timed = wl.run(tracer, args.seconds)
        peaks = {"python": peak_rss_mb(pids[:1]), "jvm": peak_rss_mb(pids[1:])}
        calib_end = calibrate(spark)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc(),
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "pyspark": pyspark.__version__,
            "commit": _git_commit(),
            "timed_s": timed.seconds,
            "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s},
            "calibration_s": {"start": calib_start, "end": calib_end},
            "calibration_noisy": max(calib_start, calib_end) / min(calib_start, calib_end)
            > CALIBRATION_SPREAD_LIMIT,
            "peak_rss_covers": "timed run" if peak_reset else "process lifetime",
            "peak_rss_mb_by_process": peaks,
            "failures": wl.failures[:20],
        }
    finally:
        _stop(spark)

    ops = timed.ops
    failed = sum(not op.ok for op in ops)
    if tracer:
        units = per_layer_units()
        values = _per_layer(tracer, wl, timed, session_s)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        main_metrics, extra = _end_to_end(args.workload, timed, setup_s, sum(peaks.values()))
        if getattr(wl, "stored_bytes_per_user_byte", None):
            extra["stored_bytes_per_user_byte"] = (
                statistics.median(wl.stored_bytes_per_user_byte), "ratio"
            )
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in main_metrics.items()}
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in extra.items()}
    record["result"] = metrics
    with open(os.path.join(WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
