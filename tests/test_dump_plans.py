"""scripts/dump_plans.py: the per-query ``--out/--tag`` mode writes one
formatted plan file per named query and leaves the tracked PLANS.md alone."""

from __future__ import annotations

import hashlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dump_plans():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(REPO, "scripts", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(path: str) -> tuple[int, str]:
    with open(path, "rb") as f:
        data = f.read()
    return os.stat(path).st_mtime_ns, hashlib.sha256(data).hexdigest()


def test_out_and_tag_write_one_plan_file_per_query(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    plans_md = os.path.join(REPO, "PLANS.md")
    before = _digest(plans_md)

    _dump_plans().main(["--out", str(tmp_path), "--tag", "after", "a8_candles_1h"])

    assert [p.name for p in tmp_path.iterdir()] == ["a8_candles_1h_after.txt"]
    assert "== Physical Plan ==" in (tmp_path / "a8_candles_1h_after.txt").read_text()
    assert _digest(plans_md) == before


@pytest.mark.parametrize(
    "argv", [["--out", "x"], ["--tag", "after"], ["a8_candles_1h"]]
)
def test_out_tag_and_names_come_together(argv):
    with pytest.raises(SystemExit):
        _dump_plans().main(argv)
