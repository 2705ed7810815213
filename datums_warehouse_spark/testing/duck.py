"""Local DuckDB oracle runner — replicates the driver's view registration.

The driver pre-registers each testdata parquet as a bare-named DuckDB view
(__spark_entry__.py docstring). We do the same so oracle SQL can be
validated locally before burning a driver round.
"""

from __future__ import annotations

import os

import duckdb

from datums_warehouse_spark.sources.tables import TABLES, path, scratch


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle's memory and let it spill: DuckDB's default limit is
    # 80% of RAM and several blocking operators can't spill without a
    # temp_directory — an unbounded 8×/32× oracle (l43's 4-way gram UNNEST
    # was the first to hit it) OOM-kills the whole harness process instead
    # of degrading to disk. The cap is the SMALLER of 32 GB and ~70% of
    # physical RAM (ADVICE r09: a flat 32 GB would RAISE the limit above
    # DuckDB's 80%-of-RAM default on sub-40 GB hosts — the opposite of a
    # bound); the spill dir keeps the Spark JVM heap safe either way. Each
    # connection spills into its own scratch directory, so two open
    # connections never share spill files; DuckDB creates it (one level
    # deep) on the first spill and removes it at close.
    try:
        phys_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
        if phys_gb <= 0:  # sysconf returning -1/0 means "unknown", not 0 RAM
            raise ValueError("sysconf reported non-positive physical memory")
        cap_gb = max(1, min(32, int(phys_gb * 0.7)))
    except (AttributeError, ValueError, OSError):
        # platform without sysconf (or an unusable answer): keep the 32GB cap
        cap_gb = 32
    con.execute(f"SET memory_limit='{cap_gb}GB'")
    spill = scratch(f"duck_spill_{id(con)}", sf_dir)
    os.makedirs(os.path.dirname(spill), exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        p = path(sf_dir, t)
        if os.path.isdir(p):  # Spark-written dataset: a directory of parts
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
