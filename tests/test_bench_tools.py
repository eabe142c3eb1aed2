"""The bench entry points outside perfbench: ``bench.py``'s one-line JSON
contract, and that every script under ``BENCH/`` and ``tools/`` still
imports (their work sits under ``__main__`` guards, so a dangling import
of a deleted module fails here rather than in a later manual run)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*REPO.glob("BENCH/*.py"), *REPO.glob("tools/*.py")])


def test_bench_cdc_mode_prints_one_json_line(tmp_path):
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env.update(
        BENCH_MODE="cdc",
        BENCH_CDC_EVENTS="20000",
        BENCH_CDC_BATCHES="2",
        BENCH_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert {"metric", "unit", "queries", "sf", "cdc", "cpus", "host_probe"} <= set(rec)
    assert rec["value"] > 0
    assert rec["cpus"] == 2
    assert rec["cdc"]["cdc_events"] == 20000
    assert {"dedup_drops", "rows_written", "late_events"} <= set(rec["cdc"])
    assert rec["cdc"]["rows_written"] > 0
    assert set(rec["host_probe"]) == {"pre", "post"}


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_imports(path):
    assert len(SCRIPTS) >= 5
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
