"""The scratch space writer queries share: ``tables.scratch`` hands each
query ``<root>/<sf tag>/<name>`` under a root private to the process and
removed at exit. Two processes running the same writer query must not
touch each other's files, and re-running a query must not leave a
directory per run behind."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.sources.tables import scratch_path
from datums_warehouse_spark.testing.compare import compare_frames

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A second process asking for s2_partitioned_sink's directory the way the
# query does, and writing into it; it prints the directory it was given.
_CHILD = """
import os, sys
from datums_warehouse_spark.sources.tables import scratch
out = scratch("s2_partitioned", sys.argv[1])
os.makedirs(out)
print(out)
"""


def test_a_second_process_leaves_a_sink_alone(spark, duck, sf_dir):
    q = all_queries()["s2_partitioned_sink"]
    frame = q.fn(spark, sf_dir)  # written here, read back lazily below
    child = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    child_dir = child.stdout.strip().splitlines()[-1]
    assert child_dir != scratch_path("s2_partitioned", sf_dir)
    # the child's root (two levels above <sf tag>/<name>) went with it
    assert not os.path.exists(os.path.dirname(os.path.dirname(child_dir)))
    res = compare_frames(q.name, frame.toPandas(), duck.execute(q.oracle).fetchdf())
    assert res.ok, res.detail


def _dirs_under(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, sub), root)
        for d, subs, _ in os.walk(root)
        for sub in subs
    }


@pytest.mark.parametrize("name", ["t9_stream_upsert", "s11_python_datasink"])
def test_rerunning_a_writer_holds_one_copy(spark, sf_dir, name):
    root = os.path.dirname(os.path.dirname(scratch_path(name, sf_dir)))
    fn = all_queries()[name].fn
    fn(spark, sf_dir)  # writes while it builds (tagged eager)
    first = _dirs_under(root)
    fn(spark, sf_dir)
    assert _dirs_under(root) == first
