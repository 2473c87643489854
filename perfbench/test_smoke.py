"""The benchmark's own tests: every workload at smoke size (sf0.001,
two tables, one cycle), so the benchmark cannot silently rot.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, run: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, run, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [
    ("fleet_sweep", 0),
    ("ingest_compact_scan", 0),
    ("curation_queries", 0),
    ("fleet_sweep", 1),
])
def test_smoke_run_is_correct_and_complete(workload, trace):
    proc = _run(ROOT, RUN, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        # the sweep reaches every layer the glossary names
        for name in ("orchestrator.self_s", "schedule.read_s",
                     "lake.optimize_s", "lake.delete_where_s",
                     "lake.pending_delete_files", "lake.purge_deletes_s",
                     "stats.analyze_s", "stats.rescan_frac"):
            assert metrics[name] > 0, name
    else:
        for name, m in result["metrics"].items():
            assert m["value"] > 0, name


def test_line_prices_are_whole_hundreds():
    """Revenue sums over these prices have at most two decimals, so the
    queries' rounding to cents never meets a half-cent tie."""
    import numpy as np
    from perfbench import datagen
    tbl = datagen.lineitem(np.random.default_rng(7), 500, 50, 10)
    price = tbl.column("l_extendedprice").to_numpy()
    assert price.min() > 0 and np.all(price % 100 == 0)


def test_fails_without_the_program(tmp_path):
    """Beside nothing but the benchmark, the command must fail and print
    no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), str(tmp_path / "perfbench" / "run.py"),
                "fleet_sweep", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
