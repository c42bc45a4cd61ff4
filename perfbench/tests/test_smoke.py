"""Smoke check of the benchmark itself, at its shortest run length.

Runs each workload once, the ETL one long enough for at least two
landing ticks, and checks that every metric ``BENCHMARK.json`` names is
printed with its unit and that no output check failed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, seconds: int = 1) -> tuple[list[str], dict]:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "0", "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert result["failed"] == 0 and result["correct"], result
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload,named", [
    ("etl_ticks", ["setup_s", "backfill_s", "tick_p50_s", "tick_max_s", "noop_tick_s",
                   "failed_frac"]),
    ("query_mix", ["setup_s", "query_total_s", "query_core_s", "failed_frac"]),
])
def test_end_to_end_metrics(workload, named):
    summary, result = _run(workload, 0)
    _assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
    printed = {line.split()[1]: line for line in summary if line.startswith(workload)}
    for name in named:
        assert name in printed, name
    assert " = 0.0000 ratio" in printed["failed_frac"]


def test_traced_tick_layers():
    _, result = _run("etl_ticks", 1, seconds=90)
    _assert_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["etl.landing_ticks"] >= 2
    # the three stage spans cover the tick's wall time
    assert 0.95 <= m["pipelines.stage_share"] <= 1.0
    assert m["io.sinks.merge_upsert_partitioned.buckets_touched"] > 0
    assert m["spark.jobs_per_tick"] > m["spark.jobs_per_noop_tick"] > 0
